"""Postgres → Spark SQL transpiler, over one record per statement.

Each statement is tokenized once into a :class:`Statement` (text, tokens,
kind, tables): a simple query's records come from the tokenization that
splits it; a prepared statement keeps its record from Parse. The hook
chain, RBAC, the TVF rewrite, EXPLAIN ANALYZE, transpile, Describe and
the command tag all read it, as the reference's hooks, planner and stored
statement share one AST (``handlers.rs:169-191,238``). :data:`KINDS` is
the one table of what follows from a statement's kind.

Transpile is the analog of the reference's ``PostgresCompatibilityParser``
(``datafusion-pg-catalog/src/sql/parser.rs:288-473``): blacklist
substitution, then the rewrite-rule chain in a fixed order over the
tokens, re-emitted as SQL for Spark's own parser — the reference likewise
re-serializes the rewritten AST for DataFusion (``handlers.rs:193-210``).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from datafusion_postgres_spark.dialect import rules as R
from datafusion_postgres_spark.dialect.tokenizer import (
    IDENT, QIDENT, WS, Token, emit, significant, split_on_semicolons,
    tokenize,
)


@dataclass(frozen=True)
class Kind:
    """What follows from a statement's kind."""

    permission: str | None = "select"  # a Permission value; None: unchecked
    rows: bool = False  # returns rows (Describe probe, EXPLAIN ANALYZE)
    dml: bool = False   # tag "<KIND> n" with the affected-row count
    ddl: bool = False   # dirties the catalog; tag "<KIND> <object>"
    tvf: bool = False   # may call pipeline table functions
    txn: bool = False   # transaction control: runs in a failed transaction
    ack: bool = False   # a maintenance no-op the hook chain acknowledges


# Statement kind -> its properties; the permissions follow
# hooks/permissions.rs:44-57, which skips the session commands.
KINDS: dict[str, Kind] = {
    **dict.fromkeys(("SELECT", "WITH"), Kind(rows=True, tvf=True)),
    "VALUES": Kind(rows=True), "TABLE": Kind(rows=True),
    "EXPLAIN": Kind(tvf=True),
    "INSERT": Kind("insert", dml=True),
    "UPDATE": Kind("update", dml=True),
    "DELETE": Kind("delete", dml=True),
    "MERGE": Kind("update", dml=True),
    "CREATE": Kind("create", ddl=True, tvf=True),
    "DROP": Kind("drop", ddl=True),
    "ALTER": Kind("alter", ddl=True),
    "TRUNCATE": Kind("truncate", ddl=True),
    "GRANT": Kind("all"), "REVOKE": Kind("all"),
    **dict.fromkeys(("SET", "SHOW", "RESET", "DISCARD", "DECLARE", "FETCH",
                     "CLOSE", ""), Kind(permission=None)),
    **dict.fromkeys(("BEGIN", "START", "COMMIT", "END", "ROLLBACK", "ABORT"),
                    Kind(permission=None, txn=True)),
    **dict.fromkeys(("VACUUM", "ANALYZE", "ANALYSE", "CHECKPOINT", "LISTEN",
                     "UNLISTEN", "NOTIFY", "DEALLOCATE", "SECURITY",
                     "REINDEX", "CLUSTER"), Kind(ack=True)),
}
OTHER_KIND = Kind()  # any kind not listed is checked as a read


@dataclass
class Statement:
    """One statement, tokenized once. Its readers share ``tokens`` and
    never mutate it (transpile rewrites a copy)."""

    text: str
    tokens: list[Token]
    kind: str
    tables: list[str]
    spark_sql: str | None = None  # what the engine sends, set on first run

    @property
    def props(self) -> Kind:
        return KINDS.get(self.kind, OTHER_KIND)


@dataclass
class BlacklistEntry:
    """Whole-query stub: client queries Spark cannot plan get a canned
    replacement (``sql/parser.rs:56-267`` mechanism; far fewer entries are
    needed than the reference since Catalyst plans correlated subqueries)."""

    needle: str          # normalized substring that identifies the query
    replacement_sql: str  # Spark SQL producing the stub result


DEFAULT_BLACKLIST: list[BlacklistEntry] = [
    # psql \d probes array(SELECT ...) over unsupported catalog corners.
    BlacklistEntry(
        needle="current_setting('search_path')",
        replacement_sql="SELECT 'public' AS search_path"),
]


def _normalize(sql: str) -> str:
    return " ".join(sql.lower().split())


def _stripped(toks: list[Token]) -> list[Token]:
    """``toks`` less the whitespace ``str.strip`` takes off their text: a
    whitespace run is one token, so only the end tokens change."""
    if toks and toks[0].kind == WS and not toks[0].text.strip():
        toks = toks[1:]
    if toks and toks[-1].kind == WS and not toks[-1].text.strip():
        toks = toks[:-1]
    if toks and toks[-1].text[-1:].isspace():  # e.g. a trailing -- comment
        toks = toks[:-1] + [Token(toks[-1].kind, toks[-1].text.rstrip())]
    return toks


@dataclass
class PostgresTranspiler:
    blacklist: list[BlacklistEntry] = field(
        default_factory=lambda: list(DEFAULT_BLACKLIST))

    def statements(self, sql: str) -> list[Statement]:
        """The records of a simple query's statements, one tokenization."""
        return [self._record(_stripped(toks)) for toks in
                split_on_semicolons(tokenize(sql))]

    def parse(self, sql: str | Statement) -> Statement:
        """The record of one statement (a record is returned as is)."""
        if isinstance(sql, Statement):
            return sql
        return self._record(tokenize(sql), sql)

    def _record(self, toks: list[Token], text: str | None = None):
        return Statement(emit(toks) if text is None else text, toks,
                         self.statement_kind(toks), self.table_names(toks))

    def split_statements(self, sql: str) -> list[str]:
        return [stmt.text for stmt in self.statements(sql)]

    def transpile(self, sql: str | Statement) -> str:
        stmt = self.parse(sql)
        norm = _normalize(stmt.text)
        for entry in self.blacklist:
            if entry.needle in norm:
                return entry.replacement_sql
        tokens = list(stmt.tokens)  # the rules assign into the list
        for rule in R.ALL_RULES:
            tokens = rule(tokens)
        return emit(tokens)

    def statement_kind(self, sql: str | list[Token]) -> str:
        """First significant keyword, uppercased — the key of
        :data:`KINDS`."""
        for t in tokenize(sql) if isinstance(sql, str) else sql:
            if t.kind == IDENT:
                return t.text.upper()
            if t.kind != WS:
                break
        return ""

    def table_names(self, sql: str | list[Token]) -> list[str]:
        """Tables referenced in FROM/JOIN/INTO/UPDATE/TABLE position —
        feeds the per-statement RBAC check (the reference walks its AST
        for table refs; we walk the token stream)."""
        toks = tokenize(sql) if isinstance(sql, str) else sql
        names = []
        for i, t in enumerate(toks):
            if t.kind == IDENT and t.text.upper() in (
                    "FROM", "JOIN", "INTO", "UPDATE", "TABLE"):
                j = significant(toks, i)
                if j < 0 or toks[j].kind not in (IDENT, QIDENT):
                    continue
                name = toks[j].text.strip('"')
                # qualified name: a.b(.c)
                k = significant(toks, j)
                while k >= 0 and toks[k].text == ".":
                    k2 = significant(toks, k)
                    if k2 < 0:
                        break
                    name += "." + toks[k2].text.strip('"')
                    k = significant(toks, k2)
                # skip subqueries / table functions
                if k >= 0 and toks[k].text == "(":
                    continue
                if name.upper() not in ("SELECT", "LATERAL", "VALUES"):
                    names.append(name.lower())
        return names
