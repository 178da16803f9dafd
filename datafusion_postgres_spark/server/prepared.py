"""Extended query protocol: Parse / Describe / Bind / Execute.

Reference parity:
  * parameter-type inference from ``CAST($n AS t)`` / ``$n::t`` patterns +
    plan-derived types (``datafusion-postgres/src/planner.rs:9-66``,
    ``handlers.rs:428-483``);
  * Bind-time decode of text-format parameter values per inferred type
    (``arrow-pg/src/datatypes/df.rs:282-860``);
  * Execute = decode + run (``handlers.rs:291-352``) through the engine's
    statement lifecycle, which binds the values with parameterized
    ``spark.sql(query, args)`` (named-parameter form), so values never get
    string-spliced into SQL.

Parse tokenizes the statement once into its record
(``dialect.transpiler.Statement``) and keeps it; Describe and every
Execute reuse its kind, tables and transpiled ``$n`` → ``:pn`` text.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from datetime import date, datetime
from decimal import Decimal

from datafusion_postgres_spark.dialect.tokenizer import (
    IDENT, OP, PARAM, Token, significant, tokenize,
)
from datafusion_postgres_spark.dialect.transpiler import (
    PostgresTranspiler, Statement,
)

# PG type name -> (oid, python decoder)
_TEXT_DECODERS = {
    16: lambda s: s in ("t", "true", "1", "on", "yes"),
    21: int, 23: int, 20: int, 26: int,
    700: float, 701: float,
    1700: Decimal,
    25: str, 1043: str, 1042: str, 19: str, 2950: str, 114: str, 3802: str,
    17: lambda s: bytes.fromhex(s[2:]) if s.startswith("\\x") else s.encode(),
    1082: date.fromisoformat,
    1114: lambda s: datetime.fromisoformat(s),
    1184: lambda s: datetime.fromisoformat(s),
}

_PG_NAME_TO_OID = {
    "bool": 16, "boolean": 16, "int2": 21, "smallint": 21,
    "int4": 23, "int": 23, "integer": 23, "int8": 20, "bigint": 20,
    "oid": 26, "float4": 700, "real": 700, "float8": 701,
    "numeric": 1700, "decimal": 1700,
    "text": 25, "varchar": 1043, "bpchar": 1042, "char": 1042, "name": 19,
    "bytea": 17, "date": 1082, "timestamp": 1114, "timestamptz": 1184,
    "uuid": 2950, "json": 114, "jsonb": 3802,
    "regclass": 2205, "regtype": 2206,
}

DEFAULT_PARAM_OID = 25  # unknown params default to text, like the reference
_PARSER = PostgresTranspiler()  # record builder; any instance builds the same


@dataclass
class PreparedStatement:
    """Stored statement: (record, param type oids) — the analog of the
    reference's (String, Option<(Statement, LogicalPlan)>)."""

    statement: Statement
    param_oids: list[int] = field(default_factory=list)

    @property
    def num_params(self) -> int:
        return len(self.param_oids)


def infer_param_types(sql: str | list[Token]) -> list[int]:
    """Scan for $n placeholders and infer each one's type from an adjacent
    cast: ``$1::int4`` or ``CAST($1 AS BIGINT)`` (planner.rs:9-66 trick).
    Uninferred params stay TEXT."""
    toks = tokenize(sql) if isinstance(sql, str) else sql
    max_n = 0
    inferred: dict[int, int] = {}
    for i, t in enumerate(toks):
        if t.kind != PARAM:
            continue
        n = int(t.text[1:])
        max_n = max(max_n, n)
        # $n :: type
        j = significant(toks, i)
        if j >= 0 and toks[j].kind == OP and toks[j].text == "::":
            ty = significant(toks, j)
            if ty >= 0 and toks[ty].kind == IDENT:
                oid = _PG_NAME_TO_OID.get(toks[ty].text.lower())
                if oid:
                    inferred[n] = oid
                    continue
        # CAST($n AS type)
        prev = significant(toks, i, -1)
        if prev >= 0 and toks[prev].text == "(":
            fn = significant(toks, prev, -1)
            as_idx = significant(toks, i)
            if (fn >= 0 and toks[fn].is_kw("CAST", "TRY_CAST") and
                    as_idx >= 0 and toks[as_idx].is_kw("AS")):
                ty = significant(toks, as_idx)
                if ty >= 0 and toks[ty].kind == IDENT:
                    oid = _PG_NAME_TO_OID.get(toks[ty].text.lower())
                    if oid:
                        inferred[n] = oid
    return [inferred.get(n, DEFAULT_PARAM_OID) for n in range(1, max_n + 1)]


def decode_parameter(value, oid: int):
    """Wire parameter value → Python value for spark.sql args
    (datatypes/df.rs per-OID decode). ``value`` is a text-format str, or
    ``("bin", bytes)`` from a Bind with parameter format code 1."""
    if value is None:
        return None
    if isinstance(value, tuple) and value[0] == "bin":
        from datafusion_postgres_spark.server.encoder import (
            decode_value_binary)
        dt = _OID_TO_SPARK_TYPE.get(oid)
        if dt is None:
            raise ValueError(
                f"binary parameter format not supported for type oid {oid}")
        return decode_value_binary(value[1], dt)
    decoder = _TEXT_DECODERS.get(oid, str)
    return decoder(value)


def _oid_spark_types():
    from pyspark.sql import types as T
    return {
        16: T.BooleanType(), 21: T.ShortType(), 23: T.IntegerType(),
        20: T.LongType(), 26: T.IntegerType(), 700: T.FloatType(),
        701: T.DoubleType(), 1700: T.DecimalType(38, 18),
        25: T.StringType(), 1043: T.StringType(), 1042: T.StringType(),
        19: T.StringType(), 17: T.BinaryType(), 1082: T.DateType(),
        1114: T.TimestampNTZType(), 1184: T.TimestampNTZType(),
    }


_OID_TO_SPARK_TYPE = _oid_spark_types()


def to_named_params(sql: str | list[Token]) -> str:
    """$1, $2 → :p1, :p2 (Spark parameterized SQL named markers). Skips
    string literals/comments by running on the token stream."""
    toks = tokenize(sql) if isinstance(sql, str) else sql
    return "".join(f":p{t.text[1:]}" if t.kind == PARAM else t.text
                   for t in toks)


class PreparedStatementManager:
    """Parse/Describe/Bind/Execute lifecycle over an engine session."""

    def __init__(self, engine):
        self.engine = engine
        self.statements: dict[str, PreparedStatement] = {}

    def parse(self, name: str, sql: str,
              declared_oids: list[int] | None = None) -> PreparedStatement:
        """Declared param OIDs from the Parse message take precedence over
        cast-inference; OID 0 means "unspecified" and falls back to the
        inferred (or default text) type, per the PG protocol."""
        record = _PARSER.parse(sql)
        oids = infer_param_types(record.tokens)
        for i, oid in enumerate(declared_oids or []):
            if not oid:
                continue
            while len(oids) <= i:
                oids.append(DEFAULT_PARAM_OID)
            oids[i] = oid
        stmt = PreparedStatement(record, param_oids=oids)
        self.statements[name] = stmt
        return stmt

    def describe(self, name: str) -> PreparedStatement:
        return self.statements[name]

    def execute(self, name: str, params: list[str | None]):
        """Check the parameter count, decode the values, then run the
        statement through the engine's one lifecycle, so Execute gets the
        same guards, RBAC, catalog refresh and command tags as the simple
        protocol (handlers.rs ExtendedQueryHandler::do_query,
        hooks/permissions.rs handle_extended_query)."""
        stmt = self.statements[name]
        if len(params) != stmt.num_params:
            raise ValueError(
                f"bind message supplies {len(params)} parameters, but "
                f"prepared statement requires {stmt.num_params}")
        args = {f"p{i + 1}": decode_parameter(p, oid)
                for i, (p, oid) in enumerate(zip(params, stmt.param_oids))}
        return self.engine._execute_one(stmt.statement, args or None)

    def close(self, name: str) -> None:
        self.statements.pop(name, None)
