"""Statement-intercepting hook chain.

Reference parity: the ``QueryHook`` chain (``hooks/mod.rs:49-76``; wiring
``handlers.rs:181-191``) — cursor hook, SET/SHOW hook, transaction hook —
each of which may fully answer a statement before it reaches the engine.
Like the reference's hooks, which get the parsed sqlparser ``Statement``,
the chain reads the statement's record (``dialect.transpiler.Statement``);
the engine makes the failed-transaction check before it. SET, RESET and
``set_config`` only write the session state and mark the engine's
settings stale (``SET TIME ZONE`` also sets Spark's time zone at once).
"""

from __future__ import annotations

import itertools
import re
from typing import TYPE_CHECKING

from datafusion_postgres_spark.server.session_state import (
    DEFAULT_SESSION_VARS, Cursor,
)
from datafusion_postgres_spark.session import ExecutionResult, text_result

if TYPE_CHECKING:
    from datafusion_postgres_spark.dialect.transpiler import Statement
    from datafusion_postgres_spark.session import SparkPgEngine

_SET_RE = re.compile(
    r"^\s*SET\s+(?:SESSION\s+|LOCAL\s+)?(?P<name>[A-Za-z_][\w.]*)\s*"
    r"(?:=|\bTO\b)\s*(?P<value>.+?)\s*$", re.IGNORECASE | re.DOTALL)
_SET_TZ_RE = re.compile(r"^\s*SET\s+TIME\s+ZONE\s+(?P<value>.+?)\s*$",
                        re.IGNORECASE)
_SHOW_RE = re.compile(r"^\s*SHOW\s+(?P<name>.+?)\s*$", re.IGNORECASE)
_DECLARE_RE = re.compile(
    r"^\s*DECLARE\s+(?P<name>[\w\"]+)\s+(?:BINARY\s+)?(?:INSENSITIVE\s+)?"
    r"(?:NO\s+SCROLL\s+|SCROLL\s+)?CURSOR\s+(?:WITH(?:OUT)?\s+HOLD\s+)?FOR\s+"
    r"(?P<query>.+)$", re.IGNORECASE | re.DOTALL)
_FETCH_RE = re.compile(
    r"^\s*FETCH\s+(?:(?P<dir>NEXT|PRIOR|FIRST|LAST|ALL|FORWARD|BACKWARD|"
    r"ABSOLUTE|RELATIVE)\s+)?(?P<count>\d+\s+)?(?:FROM\s+|IN\s+)?"
    r"(?P<name>[\w\"]+)\s*$", re.IGNORECASE)
_CLOSE_RE = re.compile(r"^\s*CLOSE\s+(?P<name>[\w\"]+|ALL)\s*$", re.IGNORECASE)
_SET_CONFIG_RE = re.compile(
    r"^\s*SELECT\s+(?:pg_catalog\.)?set_config\(\s*'(?P<name>[^']+)'\s*,\s*"
    r"(?:'(?P<value>(?:[^']|'')*)'|(?P<null>NULL))\s*,\s*"
    r"(?P<local>true|false|'t'|'f')\s*\)(?:\s+AS\s+\w+)?\s*$",
    re.IGNORECASE)
_COPY_RE = re.compile(
    r"^\s*COPY\s+(?:\((?P<q>.+)\)|(?P<tbl>[\w.\"]+))\s+TO\s+STDOUT"
    r"(?:\s+WITH)?\s*(?:\((?P<opts>[^)]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL)
_COPY_IN_RE = re.compile(
    r"^\s*COPY\s+(?P<tbl>[\w.\"]+)\s*(?:\((?P<cols>[^)]*)\)\s*)?FROM\s+STDIN"
    r"(?:\s+WITH)?\s*(?:\((?P<opts>[^)]*)\))?\s*$",
    re.IGNORECASE | re.DOTALL)


def _parse_copy_opts(opts: str | None) -> dict:
    """Parse the WITH (...) option list of COPY: FORMAT/DELIMITER/NULL/
    HEADER, both `FORMAT csv` and bare legacy `csv` spellings."""
    out: dict = {}
    if not opts:
        return out
    toks = re.findall(r"'(?:[^']|'')*'|[^\s,]+", opts)
    i = 0
    while i < len(toks):
        key = toks[i].lower()
        val = toks[i + 1] if i + 1 < len(toks) else None
        if val is not None and val.startswith("'"):
            val = val[1:-1].replace("''", "'")
        if key == "format" and val:
            out["format"] = val.lower()
            i += 2
        elif key == "delimiter" and val is not None:
            out["delimiter"] = val
            i += 2
        elif key == "null" and val is not None:
            out["null"] = val
            i += 2
        elif key == "header":
            if val and val.lower() in ("true", "false", "on", "off"):
                out["header"] = val.lower() in ("true", "on")
                i += 2
            else:
                out["header"] = True
                i += 1
        elif key in ("csv", "text", "binary"):
            out["format"] = key
            i += 1
        else:
            i += 1
    return out

# SHOW answers synthesized exactly like hooks/set_show.rs:283-366
# (any other name is its own column name, spaces as underscores)
_SHOW_COLUMN_NAMES = {
    "time zone": "TimeZone",
    "timezone": "TimeZone",
    "transaction isolation level": "transaction_isolation",
    "datestyle": "DateStyle",
}


class CursorError(RuntimeError):
    def __init__(self, msg, sqlstate):
        super().__init__(msg)
        self.sqlstate = sqlstate


class HookChain:
    def __init__(self, engine: "SparkPgEngine"):
        self.engine = engine

    def try_handle(self, stmt: str | Statement):
        state = self.engine.state
        spark = self.engine.spark
        record = self.engine.transpiler.parse(stmt)
        kind, stmt = record.kind, record.text

        # -- transaction hook (transactions.rs) ----------------------------
        if kind in ("BEGIN", "START"):
            return ExecutionResult(df=None, command_tag=state.begin())
        if kind == "COMMIT" or kind == "END":
            return ExecutionResult(df=None, command_tag=state.commit())
        if kind in ("ROLLBACK", "ABORT"):
            return ExecutionResult(df=None, command_tag=state.rollback())

        # -- SET hook (set_show.rs:130-246) --------------------------------
        if kind == "SET":
            m = _SET_TZ_RE.match(stmt) or _SET_RE.match(stmt)
            if m:
                name = m.groupdict().get("name", "timezone").lower()
                value = m.group("value").strip().strip("'\"")
                if name in ("time", "timezone"):
                    name = "timezone"
                    spark.conf.set("spark.sql.session.timeZone", value)
                state.set_var(name, value)
                self.engine.settings_changed()
            # unknown and unparseable SETs are acknowledged regardless
            # (reference swallows engine errors and always returns SET)
            return ExecutionResult(df=None, command_tag="SET")

        # -- set_config() as a statement (how clients write GUCs from SQL;
        # a pure SQL UDF cannot carry the side effect, so the hook owns the
        # statement-shaped form; embedded uses fall back to the read-only
        # UDF in functions/registry.py) ------------------------------------
        if kind == "SELECT":
            m = _SET_CONFIG_RE.match(stmt)
            if m:
                name = m.group("name").lower()
                value = (m.group("value") or "").replace("''", "'") \
                    if m.group("null") is None else ""
                if name in ("time zone", "timezone"):
                    name = "timezone"
                    spark.conf.set("spark.sql.session.timeZone", value)
                state.set_var(name, value)
                self.engine.settings_changed()
                return text_result(["set_config"], [(value,)], "SELECT")

        # -- COPY TO STDOUT / FROM STDIN (beyond the reference: it has no
        # COPY support, but psql \copy and psycopg copy_expert send it) ----
        if kind == "COPY":
            m = _COPY_RE.match(stmt)
            if m:
                if m.group("tbl"):
                    self.engine.auth.check_table(
                        self.engine.user, "SELECT", m.group("tbl").strip('"'))
                inner = m.group("q") or f'SELECT * FROM {m.group("tbl")}'
                opts = _parse_copy_opts(m.group("opts"))
                df = self.engine._sql(self.engine.transpiler.parse(inner),
                                      None)
                res = ExecutionResult(df=df, command_tag="COPY_OUT")
                res.copy_format = opts.get("format", "text")
                res.copy_header = opts.get("header", False)
                return res
            m = _COPY_IN_RE.match(stmt)
            if m:
                tbl = m.group("tbl").strip('"')
                self.engine.auth.check_table(self.engine.user, "INSERT", tbl)
                opts = _parse_copy_opts(m.group("opts"))
                cols = [c.strip().strip('"')
                        for c in m.group("cols").split(",")] \
                    if m.group("cols") else None
                # validate the target now, before the client enters
                # copy-in mode (errors after CopyInResponse desync psql) —
                # views/temp views are not insertable (pg: 42809)
                try:
                    ttype = spark.catalog.getTable(tbl).tableType
                except Exception:
                    ttype = None
                if ttype in ("TEMPORARY", "VIEW"):
                    raise CursorError(
                        f'cannot copy to view "{tbl}"', "42809")
                ncols = len(cols) if cols else len(spark.table(tbl).columns)
                res = ExecutionResult(df=None, command_tag="COPY_IN")
                res.copy_table = tbl
                res.copy_columns = cols
                res.copy_ncols = ncols
                res.copy_format = opts.get("format", "text")
                res.copy_delimiter = opts.get("delimiter")
                res.copy_null = opts.get("null")
                res.copy_header = opts.get("header", False)
                return res
            raise CursorError(
                "unsupported COPY form (use COPY ... TO STDOUT or "
                "COPY table FROM STDIN)", "0A000")

        # -- maintenance no-ops clients send (VACUUM/ANALYZE/REINDEX/etc.)
        if record.props.ack:
            return ExecutionResult(df=None, command_tag=kind)
        # index DDL: Spark has no secondary indexes (scans are pruned by
        # parquet statistics / partitioning instead), so ORM/pg_restore
        # index DDL is accepted as a no-op — same honesty class as VACUUM
        if re.match(r"(?is)^\s*CREATE\s+(UNIQUE\s+)?INDEX\b", stmt):
            return ExecutionResult(df=None, command_tag="CREATE INDEX")
        if re.match(r"(?is)^\s*DROP\s+INDEX\b", stmt):
            return ExecutionResult(df=None, command_tag="DROP INDEX")

        # -- RESET / DISCARD (Postgres session maintenance) -----------------
        if kind == "RESET":
            target = stmt.split(None, 1)[1].strip().strip(";").lower() \
                if len(stmt.split(None, 1)) > 1 else "all"
            if target == "all":
                state.vars = dict(DEFAULT_SESSION_VARS)
            elif target in DEFAULT_SESSION_VARS:
                state.vars[target] = DEFAULT_SESSION_VARS[target]
            else:
                state.vars.pop(target, None)
            self.engine.settings_changed()
            return ExecutionResult(df=None, command_tag="RESET")
        if kind == "DISCARD":
            state.cursors.clear()
            return ExecutionResult(df=None, command_tag="DISCARD ALL")

        # -- SHOW hook (set_show.rs:283-366) -------------------------------
        if kind == "SHOW":
            m = _SHOW_RE.match(stmt)
            name = (m.group("name") if m else "").strip().strip(";").lower()
            if name in ("catalogs", "tables"):
                return ExecutionResult(df=spark.sql(f"SHOW {name.upper()}"),
                                       command_tag="SHOW")
            if name == "all":
                # SHOW ALL: every session var as (name, setting, description)
                rows = [(k, v, "") for k, v in sorted(state.vars.items())]
                return text_result(["name", "setting", "description"], rows,
                                   "SHOW")
            col = _SHOW_COLUMN_NAMES.get(name, name.replace(" ", "_"))
            value = state.get_var("timezone" if col == "TimeZone" else name)
            return text_result([col], [(value,)], "SHOW")

        # -- cursor hook (hooks/cursor.rs:89-216) --------------------------
        if kind == "DECLARE":
            m = _DECLARE_RE.match(stmt)
            if m:
                return self._declare(m.group("name").strip('"'),
                                     m.group("query"))
        if kind == "FETCH":
            m = _FETCH_RE.match(stmt)
            if m:
                return self._fetch(m)
        if kind == "CLOSE":
            m = _CLOSE_RE.match(stmt)
            if m:
                return self._close(m.group("name"))
        return None

    # -- cursors -----------------------------------------------------------
    def _declare(self, name: str, query: str):
        res = ExecutionResult(df=self.engine._sql(
            self.engine.transpiler.parse(query), None))
        # Eager execution like the reference (cursor.rs:89-152), but
        # streamed: the result's batches are pulled a partition at a time,
        # so a cursor over a 100 TB result does not materialize on the
        # driver.
        self.engine.state.cursors[name.lower()] = Cursor(
            schema=res.schema, iterator=res.rows())
        return ExecutionResult(df=None, command_tag="DECLARE CURSOR")

    def _fetch(self, m):
        direction = (m.group("dir") or "NEXT").upper()
        name = m.group("name").strip('"').lower()
        if direction in ("PRIOR", "BACKWARD", "ABSOLUTE", "RELATIVE", "LAST"):
            raise CursorError(
                f"cursor direction {direction} is not supported "
                "(forward-only cursors)", "42000")
        cur = self.engine.state.cursors.get(name)
        if cur is None:
            raise CursorError(f'cursor "{name}" does not exist', "34000")
        if m.group("count"):
            count = int(m.group("count"))
        elif direction == "ALL":
            count = None
        elif direction in ("NEXT", "FIRST"):
            count = 1
        else:  # FORWARD with no count
            count = 1
        rows = list(cur.iterator if count is None
                    else itertools.islice(cur.iterator, count))
        return ExecutionResult(df=None, command_tag=f"FETCH {len(rows)}",
                               held_rows=rows, held_schema=cur.schema)

    def _close(self, name: str):
        if name.upper() == "ALL":
            self.engine.state.cursors.clear()
            return ExecutionResult(df=None, command_tag="CLOSE CURSOR ALL")
        key = name.strip('"').lower()
        if key not in self.engine.state.cursors:
            raise CursorError(f'cursor "{key}" does not exist', "34000")
        del self.engine.state.cursors[key]
        return ExecutionResult(df=None, command_tag="CLOSE CURSOR")
