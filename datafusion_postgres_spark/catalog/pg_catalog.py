"""pg_catalog emulation.

Reference parity: ``datafusion-pg-catalog/src/pg_catalog.rs`` — 59 static
tables (exported from a real PostgreSQL) + 8 dynamic tables synthesized
from the live session catalog, with stable fake OIDs (pg_catalog namespace
= 11, dynamic OIDs counted from 16384, ``pg_catalog.rs:196-256``).

Spark design: each table is a temp view named ``pg_catalog_<name>`` or
``information_schema_<name>`` (Spark temp views are a flat namespace; the
dialect layer rewrites ``pg_catalog.pg_class`` references).

* **Arrow-backed local relations.** Like the reference's in-memory Arrow
  ``RecordBatch``es, every view is built by :func:`_view` on the driver
  through ``session.local_relation`` (rows + ``StructType`` ->
  ``pyarrow.Table`` -> ``createDataFrame``, the helper COPY FROM STDIN
  stages its rows with too), which Spark plans as a ``LocalTableScan``. A
  catalog read therefore starts no Python worker and scans no RDD.
* **Static vs dynamic.** :func:`_static_views` builds, once per server
  (the template session; connections inherit the views through
  ``cloneSession``), every table that depends on neither the relations
  nor the GUCs. :func:`refresh` rebuilds only the relation-dependent ones
  — ``pg_class``, ``pg_attribute``, ``pg_tables``,
  ``information_schema.tables`` / ``.columns`` — plus ``pg_settings``
  (:func:`refresh_settings`). The engine calls it lazily when a statement
  touches the catalog and DDL has happened since the last build (the
  reference recomputes on *every* scan, ``pg_class.rs:84``).
* **The self-row record.** :func:`_view` records each view's final column
  list (hand-written columns, then the ``schema_ref.py`` NULL pad) in
  :data:`CATALOG_COLUMNS`; ``pg_class`` / ``pg_attribute`` list the
  catalog relations themselves from that record, without asking Spark.

Static-table content is regenerated from public PostgreSQL documentation
values (type OIDs etc.), not copied from the reference's feather exports.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import (
    ArrayType, BinaryType, BooleanType, FloatType, IntegerType, LongType,
    ShortType, StringType, StructField, StructType, TimestampType,
)

from datafusion_postgres_spark.catalog.schema_ref import (
    PG_CATALOG_REF_SCHEMAS)
from datafusion_postgres_spark.session import local_relation

PG_CATALOG_NAMESPACE_OID = 11
PUBLIC_NAMESPACE_OID = 2200
FIRST_DYNAMIC_OID = 16384

# (typname, oid, typlen, typcategory, typelem, typarray)
_PG_TYPES = [
    ("bool", 16, 1, "B", 0, 1000), ("bytea", 17, -1, "U", 0, 1001),
    ("char", 18, 1, "Z", 0, 1002), ("name", 19, 64, "S", 18, 1003),
    ("int8", 20, 8, "N", 0, 1016), ("int2", 21, 2, "N", 0, 1005),
    ("int4", 23, 4, "N", 0, 1007), ("regproc", 24, 4, "N", 0, 1008),
    ("text", 25, -1, "S", 0, 1009), ("oid", 26, 4, "N", 0, 1028),
    ("json", 114, -1, "U", 0, 199), ("xml", 142, -1, "U", 0, 143),
    ("float4", 700, 4, "N", 0, 1021), ("float8", 701, 8, "N", 0, 1022),
    ("unknown", 705, -2, "X", 0, 0), ("money", 790, 8, "N", 0, 791),
    ("macaddr", 829, 6, "U", 0, 1040), ("inet", 869, -1, "I", 0, 1041),
    ("bpchar", 1042, -1, "S", 0, 1014), ("varchar", 1043, -1, "S", 0, 1015),
    ("date", 1082, 4, "D", 0, 1182), ("time", 1083, 8, "D", 0, 1183),
    ("timestamp", 1114, 8, "D", 0, 1115),
    ("timestamptz", 1184, 8, "D", 0, 1185),
    ("interval", 1186, 16, "T", 0, 1187),
    ("timetz", 1266, 12, "D", 0, 1270),
    ("bit", 1560, -1, "V", 0, 1561), ("varbit", 1562, -1, "V", 0, 1563),
    ("numeric", 1700, -1, "N", 0, 1231),
    ("regclass", 2205, 4, "N", 0, 2210), ("regtype", 2206, 4, "N", 0, 2211),
    ("uuid", 2950, 16, "U", 0, 2951), ("jsonb", 3802, -1, "U", 0, 3807),
    ("regnamespace", 4089, 4, "N", 0, 4090),
    ("regrole", 4096, 4, "N", 0, 4097),
    # array types
    ("_bool", 1000, -1, "A", 16, 0), ("_bytea", 1001, -1, "A", 17, 0),
    ("_name", 1003, -1, "A", 19, 0), ("_int2", 1005, -1, "A", 21, 0),
    ("_int4", 1007, -1, "A", 23, 0), ("_text", 1009, -1, "A", 25, 0),
    ("_bpchar", 1014, -1, "A", 1042, 0), ("_varchar", 1015, -1, "A", 1043, 0),
    ("_int8", 1016, -1, "A", 20, 0), ("_float4", 1021, -1, "A", 700, 0),
    ("_float8", 1022, -1, "A", 701, 0), ("_oid", 1028, -1, "A", 26, 0),
    ("_timestamp", 1115, -1, "A", 1114, 0), ("_date", 1182, -1, "A", 1082, 0),
    ("_timestamptz", 1185, -1, "A", 1184, 0),
    ("_numeric", 1231, -1, "A", 1700, 0),
]

# format_type() spelling of the _PG_TYPES names PG renders differently;
# every other base type formats as its typname
_FORMAT_NAMES = {
    "bool": "boolean", "char": '"char"', "int8": "bigint",
    "int2": "smallint", "int4": "integer", "float4": "real",
    "float8": "double precision", "bpchar": "character",
    "varchar": "character varying", "time": "time without time zone",
    "timestamp": "timestamp without time zone",
    "timestamptz": "timestamp with time zone",
    "timetz": "time with time zone", "varbit": "bit varying",
}


def format_type_names() -> dict[int, str]:
    """OID -> PG ``format_type(oid, NULL)`` text for every base type in
    _PG_TYPES and, through its ``typarray``, its array type
    (``integer[]``, ``text[]``, ...)."""
    names = {}
    for typname, oid, _l, cat, _elem, arr in _PG_TYPES:
        if cat == "A":
            continue
        name = _FORMAT_NAMES.get(typname, typname)
        names[oid] = name
        if arr:
            names[arr] = name + "[]"
    return names


# Spark SQL type -> (pg type oid, typlen)
SPARK_TO_PG_OID = {
    "boolean": (16, 1), "tinyint": (21, 2), "smallint": (21, 2),
    "int": (23, 4), "bigint": (20, 8), "float": (700, 4), "double": (701, 8),
    "string": (25, -1), "binary": (17, -1), "date": (1082, 4),
    "timestamp": (1184, 8), "timestamp_ntz": (1114, 8), "void": (705, -2),
    "interval": (1186, 16),
}


def spark_type_to_pg_oid(dt: str) -> tuple[int, int]:
    dt = dt.lower()
    if dt.startswith("decimal"):
        return (1700, -1)
    if dt.startswith("array"):
        inner = dt[6:-1]
        elem_oid, _ = spark_type_to_pg_oid(inner)
        for name, oid, _l, cat, elem, arr in _PG_TYPES:
            if oid == elem_oid and arr:
                return (arr, -1)
        return (1009, -1)
    if dt.startswith("struct"):
        return (2249, -1)  # record
    if dt.startswith("map"):
        return (114, -1)   # closest: json
    return SPARK_TO_PG_OID.get(dt, (25, -1))


class OidRegistry:
    """Deterministic OID assignment (pg_catalog.rs:196-256 analog):
    fixed OIDs for namespaces, then a counter from 16384 keyed by qualified
    name, stable within a session. Each engine owns one and passes it to
    :func:`refresh`."""

    def __init__(self):
        self._cache: dict[str, int] = {}
        self._next = FIRST_DYNAMIC_OID

    def oid(self, qualified_name: str) -> int:
        if qualified_name not in self._cache:
            self._cache[qualified_name] = self._next
            self._next += 1
        return self._cache[qualified_name]


# view name -> its final columns as (name, Spark simpleString type,
# nullable), in view order; written by _padded_schema for every view
CATALOG_COLUMNS: dict[str, list[tuple[str, str, bool]]] = {}

# the Spark types schema_ref.py uses, keyed by their type strings
_REF_TYPES = {t.simpleString(): t for t in (
    IntegerType(), LongType(), ShortType(), FloatType(), BooleanType(),
    StringType(), BinaryType(), TimestampType(), ArrayType(ShortType()))}


def _padded_schema(name: str, schema: StructType) -> StructType:
    """``schema`` padded to the reference's full column set, recorded in
    :data:`CATALOG_COLUMNS`.

    Our hand-modeled tables carry the columns clients actually read;
    anything else in the stock PostgreSQL catalog schema (schema_ref.py,
    from the reference's pg_catalog exports) is appended as a nullable
    column so deep-introspection queries (pgadmin/DBeaver column lists)
    resolve."""
    have = {f.name.lower() for f in schema}
    pad = [StructField(c, _REF_TYPES[t]) for c, t in
           PG_CATALOG_REF_SCHEMAS.get(name.removeprefix("pg_catalog_"), ())
           if c.lower() not in have]
    full = StructType(schema.fields + pad)
    CATALOG_COLUMNS[name] = [(f.name, f.dataType.simpleString(), f.nullable)
                             for f in full]
    return full


def _view(spark, name: str, schema: StructType, rows: list) -> None:
    """Create a catalog view as an Arrow-backed local relation: ``rows``
    fill the columns of ``schema``, the pad columns are NULL."""
    local_relation(spark, _padded_schema(name, schema),
                   rows).createOrReplaceTempView(name)


def _user_tables(spark) -> list[str]:
    """Names of the temp views + catalog tables, excluding our own
    pg_catalog_* and information_schema_* views. ``SHOW TABLES`` is a
    driver-side command (no Spark job); ``catalog.listTables()`` starts
    several jobs and ~10 py4j calls per relation."""
    return sorted(r.tableName for r in spark.sql("SHOW TABLES").collect()
                  if not r.tableName.startswith(
                      ("pg_catalog_", "information_schema_")))


def bootstrap(spark: SparkSession) -> None:
    """Create all pg_catalog views (static content + dynamic snapshot)."""
    _static_views(spark)
    refresh(spark, OidRegistry())


# Real PG relation OIDs for the core catalogs (public knowledge,
# src/include/catalog/pg_*.h); everything else gets the 12000 band PG
# itself uses for system views, assigned in sorted-name order.
_KNOWN_CATALOG_OIDS = {
    "pg_statistic": 2619, "pg_type": 1247, "pg_attribute": 1249,
    "pg_proc": 1255, "pg_class": 1259, "pg_authid": 1260,
    "pg_auth_members": 1261, "pg_database": 1262, "pg_tablespace": 1213,
    "pg_aggregate": 2600, "pg_am": 2601, "pg_amop": 2602, "pg_amproc": 2603,
    "pg_attrdef": 2604, "pg_cast": 2605, "pg_constraint": 2606,
    "pg_conversion": 2607, "pg_depend": 2608, "pg_description": 2609,
    "pg_index": 2610, "pg_inherits": 2611, "pg_language": 2612,
    "pg_largeobject": 2613, "pg_namespace": 2615, "pg_opclass": 2616,
    "pg_operator": 2617, "pg_rewrite": 2618, "pg_trigger": 2620,
}

# relkind 'v' rows (PG ships these as system views, not heap catalogs)
_VIEWISH_CATALOG = {
    "pg_tables", "pg_views", "pg_matviews", "pg_settings", "pg_roles",
    "pg_user", "pg_shadow", "pg_group", "pg_stat_user_tables",
    "pg_stat_activity", "pg_stat_gssapi", "pg_replication_slots",
    "pg_locks", "pg_cursors", "pg_available_extensions",
    "pg_timezone_names", "pg_timezone_abbrevs", "pg_get_keywords",
    "pg_indexes", "pg_sequences",
}

_SHARED_CATALOGS = {"pg_database", "pg_authid", "pg_auth_members",
                    "pg_tablespace", "pg_shdescription", "pg_shseclabel"}


def _catalog_self_rows() -> tuple[list, list]:
    """pg_class / pg_attribute rows for the catalog relations themselves
    (real PG lists its own catalogs; ``\\dS``, ``\\d pg_class`` and
    ``to_regclass('pg_class')`` depend on it), read from the columns
    :func:`_view` recorded."""
    from datafusion_postgres_spark.catalog.names import (
        INFORMATION_SCHEMA_TABLES, PG_CATALOG_TABLES)
    cls_rows: list = []
    attr_rows: list = []
    next_oid = 12000
    groups = [("pg_catalog_", PG_CATALOG_NAMESPACE_OID,
               sorted(PG_CATALOG_TABLES)),
              ("information_schema_", 13000,
               sorted(INFORMATION_SCHEMA_TABLES))]
    for prefix, ns, names in groups:
        for name in names:
            oid = _KNOWN_CATALOG_OIDS.get(name)
            if oid is None:
                oid, next_oid = next_oid, next_oid + 1
            cols = CATALOG_COLUMNS.get(prefix + name, [])
            relkind = ("v" if prefix == "information_schema_" or
                       name in _VIEWISH_CATALOG else "r")
            cls_rows.append((oid, name, ns, 0, 0, 10, 2, oid, 0, 0,
                             float(-1), 0, 0, False,
                             name in _SHARED_CATALOGS, "p", relkind,
                             len(cols), 0, False, False, False, False,
                             False, True, "n", False, 0, 1, 1, None,
                             None, None))
            attr_rows += _attribute_rows(oid, cols)
    return cls_rows, attr_rows


def _attribute_rows(oid: int, cols: list) -> list:
    """pg_attribute rows of relation ``oid`` from its (name, Spark type
    string, nullable) columns."""
    rows = []
    for i, (name, dtype, nullable) in enumerate(cols, start=1):
        type_oid, typlen = spark_type_to_pg_oid(dtype)
        rows.append((oid, name, type_oid, i, typlen, -1, 0, not nullable,
                     False, "", "", False, True, 0))
    return rows


# ---- pg_class (pg_catalog/pg_class.rs:31-79) ----
_CLASS_SCHEMA = StructType([
    StructField("oid", IntegerType()), StructField("relname", StringType()),
    StructField("relnamespace", IntegerType()),
    StructField("reltype", IntegerType()),
    StructField("reloftype", IntegerType()),
    StructField("relowner", IntegerType()),
    StructField("relam", IntegerType()),
    StructField("relfilenode", IntegerType()),
    StructField("reltablespace", IntegerType()),
    StructField("relpages", IntegerType()),
    StructField("reltuples", FloatType()),
    StructField("relallvisible", IntegerType()),
    StructField("reltoastrelid", IntegerType()),
    StructField("relhasindex", BooleanType()),
    StructField("relisshared", BooleanType()),
    StructField("relpersistence", StringType()),
    StructField("relkind", StringType()),
    StructField("relnatts", ShortType()),
    StructField("relchecks", ShortType()),
    StructField("relhasrules", BooleanType()),
    StructField("relhastriggers", BooleanType()),
    StructField("relhassubclass", BooleanType()),
    StructField("relrowsecurity", BooleanType()),
    StructField("relforcerowsecurity", BooleanType()),
    StructField("relispopulated", BooleanType()),
    StructField("relreplident", StringType()),
    StructField("relispartition", BooleanType()),
    StructField("relrewrite", IntegerType()),
    StructField("relfrozenxid", IntegerType()),
    StructField("relminmxid", IntegerType()),
    StructField("relacl", StringType()),
    StructField("reloptions", StringType()),
    StructField("relpartbound", StringType())])

# ---- pg_attribute (pg_catalog/pg_attribute.rs) ----
_ATTRIBUTE_SCHEMA = StructType([
    StructField("attrelid", IntegerType()),
    StructField("attname", StringType()),
    StructField("atttypid", IntegerType()),
    StructField("attnum", ShortType()),
    StructField("attlen", ShortType()),
    StructField("atttypmod", IntegerType()),
    StructField("attndims", ShortType()),
    StructField("attnotnull", BooleanType()),
    StructField("atthasdef", BooleanType()),
    StructField("attidentity", StringType()),
    StructField("attgenerated", StringType()),
    StructField("attisdropped", BooleanType()),
    StructField("attislocal", BooleanType()),
    StructField("attinhcount", ShortType())])


def refresh(spark: SparkSession, oids: OidRegistry,
            session_vars: dict | None = None) -> None:
    """Rebuild the relation-dependent tables from the live session
    catalog, with table OIDs from the session's ``oids``, and pg_settings
    from its GUCs (``None`` = the defaults)."""
    cls_rows, attr_rows, tbl_rows, info_tbl_rows, info_col_rows = \
        [], [], [], [], []
    for name in _user_tables(spark):
        oid = oids.oid(f"public.{name}")
        cols = [(f.name, f.dataType.simpleString(), f.nullable)
                for f in spark.table(name).schema]
        cls_rows.append((oid, name, PUBLIC_NAMESPACE_OID, 0, 0, 10, 2,
                         oid, 0, 0, float(-1), 0, 0, False, False, "p", "r",
                         len(cols), 0, False, False, False, False, False,
                         True, "d", False, 0, 1, 1, None, None, None))
        attr_rows += _attribute_rows(oid, cols)
        tbl_rows.append(("public", name, "postgres", None, False, False,
                         False, False))
        info_tbl_rows.append(("postgres", "public", name, "BASE TABLE"))
        info_col_rows += [("postgres", "public", name, col, i, None,
                           "YES" if nullable else "NO", dtype)
                          for i, (col, dtype, nullable) in
                          enumerate(cols, start=1)]

    # ---- pg_tables (pg_catalog/pg_tables.rs) ----
    _view(spark, "pg_catalog_pg_tables", StructType([
        StructField("schemaname", StringType()),
        StructField("tablename", StringType()),
        StructField("tableowner", StringType()),
        StructField("tablespace", StringType()),
        StructField("hasindexes", BooleanType()),
        StructField("hasrules", BooleanType()),
        StructField("hastriggers", BooleanType()),
        StructField("rowsecurity", BooleanType())]), tbl_rows)

    # ---- information_schema (reference gets it from DataFusion) ----
    _view(spark, "information_schema_tables", StructType([
        StructField("table_catalog", StringType()),
        StructField("table_schema", StringType()),
        StructField("table_name", StringType()),
        StructField("table_type", StringType())]), info_tbl_rows)
    _view(spark, "information_schema_columns", StructType([
        StructField("table_catalog", StringType()),
        StructField("table_schema", StringType()),
        StructField("table_name", StringType()),
        StructField("column_name", StringType()),
        StructField("ordinal_position", IntegerType()),
        StructField("column_default", StringType()),
        StructField("is_nullable", StringType()),
        StructField("data_type", StringType())]), info_col_rows)

    refresh_settings(spark, session_vars)

    # pg_class and pg_attribute list themselves: record their columns
    # before the self-rows are read
    _padded_schema("pg_catalog_pg_class", _CLASS_SCHEMA)
    _padded_schema("pg_catalog_pg_attribute", _ATTRIBUTE_SCHEMA)
    cat_cls, cat_attr = _catalog_self_rows()
    _view(spark, "pg_catalog_pg_class", _CLASS_SCHEMA, cls_rows + cat_cls)
    _view(spark, "pg_catalog_pg_attribute", _ATTRIBUTE_SCHEMA,
          attr_rows + cat_attr)


def refresh_settings(spark: SparkSession, session_vars: dict | None) -> None:
    """(Re)build pg_settings from the LIVE session GUCs, so
    ``SELECT * FROM pg_settings WHERE name = 'x'`` agrees with SET/SHOW
    (pg_settings.rs builds from the reference's session state the same
    way; here the SET hook and :func:`refresh` trigger the rebuild)."""
    from pyspark.sql.types import StringType, StructField, StructType
    from datafusion_postgres_spark.server.session_state import (
        DEFAULT_SESSION_VARS)

    settings_schema = StructType([
        StructField("name", StringType()), StructField("setting", StringType()),
        StructField("unit", StringType()), StructField("category", StringType()),
        StructField("short_desc", StringType()),
        StructField("context", StringType()), StructField("vartype", StringType()),
        StructField("source", StringType())])
    merged = dict(DEFAULT_SESSION_VARS)
    merged["max_connections"] = "100"
    if session_vars:
        merged.update(session_vars)
    rows = []
    for name, value in sorted(merged.items()):
        display = {"timezone": "TimeZone", "datestyle": "DateStyle",
                   "intervalstyle": "IntervalStyle"}.get(name, name)
        vartype = ("integer" if str(value).lstrip("-").isdigit() else
                   "bool" if str(value) in ("on", "off") else "string")
        source = "session" if (session_vars and
                               DEFAULT_SESSION_VARS.get(name) !=
                               value) else "default"
        rows.append((display, str(value), None, "Client Connection Defaults",
                     name.replace("_", " "), "user", vartype, source))
    _view(spark, "pg_catalog_pg_settings", settings_schema, rows)


# Spark SQL type string -> (pg type oid, pg type name) for pg_proc rows
_SQLTYPE_PG = {
    "DOUBLE": (701, "double precision"), "FLOAT": (700, "real"),
    "BIGINT": (20, "bigint"), "INT": (23, "integer"),
    "INTEGER": (23, "integer"), "SMALLINT": (21, "smallint"),
    "STRING": (25, "text"), "BOOLEAN": (16, "boolean"),
    "DATE": (1082, "date"), "TIMESTAMP": (1114, "timestamp without time zone"),
    "BINARY": (17, "bytea"), "INTERVAL": (1186, "interval"),
    "DECIMAL": (1700, "numeric"),
    "ARRAY<STRING>": (1009, "text[]"), "ARRAY<BIGINT>": (1016, "bigint[]"),
    "ARRAY<DOUBLE>": (1022, "double precision[]"),
    "ARRAY<INT>": (1007, "integer[]"),
}


def _split_args(args: str) -> list[str]:
    """Split a SQL UDF arg list on top-level commas (ARRAY<..>/MAP<..,..>
    keep their internal commas)."""
    out, depth, cur = [], 0, []
    for ch in args:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            out.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        out.append(tail)
    return out


def _pg_sig(arg: str) -> tuple[str, int, str]:
    """'x DOUBLE DEFAULT 0.0D' -> (name, type oid, 'x double precision
    DEFAULT 0.0D')."""
    head, _, default = arg.partition(" DEFAULT ")
    name, _, sqltype = head.strip().partition(" ")
    oid, pgname = _SQLTYPE_PG.get(sqltype.strip().upper(), (25, "text"))
    text = f"{name} {pgname}" + (f" DEFAULT {default}" if default else "")
    return name, oid, text


def _proc_rows() -> list:
    """pg_proc content from the LIVE function registry: SQL UDFs, SQL
    UDTFs (proretset), and the Pandas-UDF special-math family. Volatile
    markers follow PG semantics (random/sleep/uuid/now-family 'v',
    settings-dependent 's', everything else 'i')."""
    from datafusion_postgres_spark.functions.geo import GEO_SQL_UDFS
    from datafusion_postgres_spark.functions.registry import (
        SQL_UDFS, SQL_UDTFS)

    volatile = {"random_normal", "pg_sleep", "gen_random_uuid", "uuidv4",
                "uuidv7", "clock_timestamp", "timeofday", "statement_timestamp",
                "transaction_timestamp", "pg_backend_pid"}
    stable = {"current_setting", "pg_current_schemas", "pg_current_schema",
              "now", "age", "timezone"}
    rows = []
    oid = 8000
    pandas_udfs = [("erf", "x DOUBLE", "DOUBLE", "special-math pandas UDF"),
                   ("erfc", "x DOUBLE", "DOUBLE", "special-math pandas UDF"),
                   ("gamma", "x DOUBLE", "DOUBLE", "special-math pandas UDF"),
                   ("lgamma", "x DOUBLE", "DOUBLE", "special-math pandas UDF"),
                   ("pg_sleep", "secs DOUBLE", "STRING", "python UDF"),
                   ("to_ascii", "s STRING", "STRING", "unicode pandas UDF"),
                   ("unistr", "s STRING", "STRING", "unicode pandas UDF"),
                   ("unicode_assigned", "s STRING", "BOOLEAN",
                    "unicode pandas UDF"),
                   ("crc32c", "b BINARY", "BIGINT", "crc-32c pandas UDF"),
                   ("st_asewkb", "g STRUCT, srid INT", "BINARY",
                    "EWKB pandas UDF"),
                   ("st_geomfromewkb", "b BINARY", "STRING",
                    "EWKB pandas UDF")]
    for kind, spec_list in (("f", SQL_UDFS), ("f", GEO_SQL_UDFS),
                            ("f", pandas_udfs), ("t", SQL_UDTFS)):
        for name, args, ret, body in spec_list:
            sigs = [_pg_sig(a) for a in _split_args(args)]
            retset = kind == "t"
            if retset:  # 'TABLE(col TYPE)' -> element type
                inner = ret[ret.index("(") + 1:ret.rindex(")")]
                ret = inner.split()[-1]
            ret_oid, ret_name = _SQLTYPE_PG.get(ret.strip().upper(),
                                                (25, "text"))
            vol = ("v" if name in volatile
                   else "s" if name in stable else "i")
            rows.append((
                oid, name, PG_CATALOG_NAMESPACE_OID, ret_oid, len(sigs),
                "f", retset, vol,
                " ".join(str(s[1]) for s in sigs),
                [s[0] for s in sigs],
                ", ".join(s[2] for s in sigs),
                ("SETOF " if retset else "") + ret_name,
                body))
            oid += 1
    # pipeline table functions (operator tier exposed through SQL —
    # functions/pipeline_tvf.py): discoverable via psql \df like any
    # set-returning function; 'v' volatility (they read tables)
    from datafusion_postgres_spark.functions.pipeline_tvf import (
        TVF_SIGNATURES,
    )
    # declared arg type -> type OID (public PostgreSQL catalog facts)
    tvf_arg_oids = {"text": "25", "integer": "23", "bigint": "20",
                    "double precision": "701", "boolean": "16"}
    for name in sorted(TVF_SIGNATURES):
        args_text, result_text = TVF_SIGNATURES[name]
        argnames, argoids = [], []
        for a in args_text.split(","):
            words = a.strip().split()
            argnames.append(words[0])
            argoids.append(tvf_arg_oids.get(" ".join(words[1:]), "25"))
        rows.append((
            oid, name, PG_CATALOG_NAMESPACE_OID, 2249, len(argnames),
            "f", True, "v",
            " ".join(argoids),
            argnames, args_text, result_text,
            "pipeline table function (Spark operator tier; "
            "functions/pipeline_tvf.py)"))
        oid += 1
    return rows


def _static_views(spark: SparkSession) -> None:
    """Build every view that no relation or setting changes; the rest of
    the reference's catalog tables become typed empty shells."""
    built: set[str] = set()

    def build(name: str, schema: StructType, rows: list) -> None:
        _view(spark, name, schema, rows)
        built.add(name)

    # ---- pg_type ----
    type_schema = StructType([
        StructField("oid", IntegerType()), StructField("typname", StringType()),
        StructField("typnamespace", IntegerType()),
        StructField("typowner", IntegerType()),
        StructField("typlen", ShortType()),
        StructField("typbyval", BooleanType()),
        StructField("typtype", StringType()),
        StructField("typcategory", StringType()),
        StructField("typisdefined", BooleanType()),
        StructField("typdelim", StringType()),
        StructField("typrelid", IntegerType()),
        StructField("typelem", IntegerType()),
        StructField("typarray", IntegerType()),
        StructField("typbasetype", IntegerType()),
        StructField("typtypmod", IntegerType()),
        StructField("typndims", IntegerType()),
        StructField("typcollation", IntegerType()),
        StructField("typnotnull", BooleanType()),
        StructField("typdefault", StringType())])
    rows = [(oid, name, PG_CATALOG_NAMESPACE_OID, 10, typlen,
             typlen in (1, 2, 4, 8), "b", cat, True, ",", 0, elem, arr, 0,
             -1, 1 if cat == "A" else 0, 0, False, None)
            for (name, oid, typlen, cat, elem, arr) in _PG_TYPES]
    build("pg_catalog_pg_type", type_schema, rows)

    # ---- pg_proc (every registered engine function, real type OIDs,
    #      psql-\df metadata: signature/result text + prosrc) ----
    proc_schema = StructType([
        StructField("oid", IntegerType()), StructField("proname", StringType()),
        StructField("pronamespace", IntegerType()),
        StructField("prorettype", IntegerType()),
        StructField("pronargs", ShortType()),
        StructField("prokind", StringType()),
        StructField("proretset", BooleanType()),
        StructField("provolatile", StringType()),
        StructField("proargtypes", StringType()),   # oidvector as text
        StructField("proargnames", ArrayType(StringType())),
        StructField("proargs_text", StringType()),  # pg_get_function_arguments
        StructField("proresult_text", StringType()),
        StructField("prosrc", StringType())])
    proc_rows = _proc_rows()
    build("pg_catalog_pg_proc", proc_schema, proc_rows)

    # ---- pg_am ----
    am_schema = StructType([
        StructField("oid", IntegerType()), StructField("amname", StringType()),
        StructField("amhandler", IntegerType()),
        StructField("amtype", StringType())])
    build("pg_catalog_pg_am", am_schema,
          [(2, "heap", 0, "t"), (403, "btree", 0, "i"), (405, "hash", 0, "i")])

    # ---- operator classes/families + member operators (round 4) ----
    # Content, not shells: DBeaver/pgadmin index and type panels join
    # pg_opclass ⋈ pg_am ⋈ pg_opfamily and pg_amop ⋈ pg_operator; the
    # reference ships real exported rows (pg_catalog.rs:121-194).
    from datafusion_postgres_spark.catalog import opclass_ref as OCR
    build("pg_catalog_pg_opfamily", StructType([
        StructField("oid", IntegerType()),
        StructField("opfmethod", IntegerType()),
        StructField("opfname", StringType()),
        StructField("opfnamespace", IntegerType()),
        StructField("opfowner", IntegerType())]), OCR.opfamily_rows())
    build("pg_catalog_pg_opclass", StructType([
        StructField("oid", IntegerType()),
        StructField("opcmethod", IntegerType()),
        StructField("opcname", StringType()),
        StructField("opcnamespace", IntegerType()),
        StructField("opcowner", IntegerType()),
        StructField("opcfamily", IntegerType()),
        StructField("opcintype", IntegerType()),
        StructField("opcdefault", BooleanType()),
        StructField("opckeytype", IntegerType())]), OCR.opclass_rows())
    build("pg_catalog_pg_amop", StructType([
        StructField("oid", IntegerType()),
        StructField("amopfamily", IntegerType()),
        StructField("amoplefttype", IntegerType()),
        StructField("amoprighttype", IntegerType()),
        StructField("amopstrategy", ShortType()),
        StructField("amoppurpose", StringType()),
        StructField("amopopr", IntegerType()),
        StructField("amopmethod", IntegerType()),
        StructField("amopsortfamily", IntegerType())]), OCR.amop_rows())
    build("pg_catalog_pg_amproc", StructType([
        StructField("oid", IntegerType()),
        StructField("amprocfamily", IntegerType()),
        StructField("amproclefttype", IntegerType()),
        StructField("amprocrighttype", IntegerType()),
        StructField("amprocnum", ShortType()),
        StructField("amproc", StringType())]), OCR.amproc_rows())
    build("pg_catalog_pg_operator", StructType([
        StructField("oid", IntegerType()),
        StructField("oprname", StringType()),
        StructField("oprnamespace", IntegerType()),
        StructField("oprowner", IntegerType()),
        StructField("oprkind", StringType()),
        StructField("oprcanmerge", BooleanType()),
        StructField("oprcanhash", BooleanType()),
        StructField("oprleft", IntegerType()),
        StructField("oprright", IntegerType()),
        StructField("oprresult", IntegerType()),
        StructField("oprcom", IntegerType()),
        StructField("oprnegate", IntegerType()),
        StructField("oprcode", StringType())]), OCR.operator_rows())

    # ---- pg_namespace (pg_catalog/pg_namespace.rs) ----
    build("pg_catalog_pg_namespace", StructType([
        StructField("oid", IntegerType()), StructField("nspname", StringType()),
        StructField("nspowner", IntegerType()),
        StructField("nspacl", StringType())]), [
        (PG_CATALOG_NAMESPACE_OID, "pg_catalog", 10, None),
        (PUBLIC_NAMESPACE_OID, "public", 10, None),
        (13000, "information_schema", 10, None)])

    # ---- pg_database (pg_catalog/pg_database.rs) ----
    build("pg_catalog_pg_database", StructType([
        StructField("oid", IntegerType()), StructField("datname", StringType()),
        StructField("datdba", IntegerType()),
        StructField("encoding", IntegerType()),
        StructField("datlocprovider", StringType()),
        StructField("datistemplate", BooleanType()),
        StructField("datallowconn", BooleanType()),
        StructField("datconnlimit", IntegerType()),
        StructField("datcollate", StringType()),
        StructField("datctype", StringType()),
        StructField("datacl", StringType())]),
        [(1, "postgres", 10, 6, "c", False, True, -1, "C", "C", None)])

    # ---- pg_roles (pg_roles.rs) ----
    build("pg_catalog_pg_roles", StructType([
        StructField("oid", IntegerType()), StructField("rolname", StringType()),
        StructField("rolsuper", BooleanType()),
        StructField("rolinherit", BooleanType()),
        StructField("rolcreaterole", BooleanType()),
        StructField("rolcreatedb", BooleanType()),
        StructField("rolcanlogin", BooleanType()),
        StructField("rolreplication", BooleanType()),
        StructField("rolconnlimit", IntegerType()),
        StructField("rolpassword", StringType()),
        StructField("rolvaliduntil", StringType()),
        StructField("rolbypassrls", BooleanType()),
        StructField("rolconfig", StringType())]),
        [(10, "postgres", True, True, True, True, True, False, -1,
          "********", None, True, None)])

    # ---- empty view-style tables (pg_views.rs, pg_replication_slot.rs) ----
    build("pg_catalog_pg_views", StructType([
        StructField("schemaname", StringType()),
        StructField("viewname", StringType()),
        StructField("viewowner", StringType()),
        StructField("definition", StringType())]), [])
    build("pg_catalog_pg_matviews", StructType([
        StructField("schemaname", StringType()),
        StructField("matviewname", StringType()),
        StructField("matviewowner", StringType()),
        StructField("tablespace", StringType()),
        StructField("hasindexes", BooleanType()),
        StructField("ispopulated", BooleanType()),
        StructField("definition", StringType())]), [])

    # ---- constant information_schema names (catalog/names.py): all must
    # RESOLVE — schemata populated, routines derived from pg_proc, the
    # constraint family truthfully empty (parquet views have no
    # constraints) ----
    build("information_schema_schemata", StructType([
        StructField("catalog_name", StringType()),
        StructField("schema_name", StringType()),
        StructField("schema_owner", StringType())]), [
        ("postgres", "public", "postgres"),
        ("postgres", "pg_catalog", "postgres"),
        ("postgres", "information_schema", "postgres")])
    build("information_schema_views", StructType([
        StructField("table_catalog", StringType()),
        StructField("table_schema", StringType()),
        StructField("table_name", StringType()),
        StructField("view_definition", StringType())]), [])
    build("information_schema_table_constraints", StructType([
        StructField("constraint_catalog", StringType()),
        StructField("constraint_schema", StringType()),
        StructField("constraint_name", StringType()),
        StructField("table_schema", StringType()),
        StructField("table_name", StringType()),
        StructField("constraint_type", StringType())]), [])
    build("information_schema_key_column_usage", StructType([
        StructField("constraint_name", StringType()),
        StructField("table_schema", StringType()),
        StructField("table_name", StringType()),
        StructField("column_name", StringType()),
        StructField("ordinal_position", IntegerType())]), [])
    build("information_schema_referential_constraints", StructType([
        StructField("constraint_name", StringType()),
        StructField("unique_constraint_name", StringType()),
        StructField("update_rule", StringType()),
        StructField("delete_rule", StringType())]), [])
    build("information_schema_routines", StructType([
        StructField("routine_catalog", StringType(), False),
        StructField("routine_schema", StringType(), False),
        StructField("routine_name", StringType()),
        StructField("routine_type", StringType(), False),
        StructField("data_type", StringType())]),
        [("postgres", "pg_catalog", r[1], "FUNCTION", r[11])
         for r in proc_rows])

    # ---- misc empties clients probe ----
    for name, fields in [
        ("pg_catalog_pg_inherits",
         [("inhrelid", IntegerType()), ("inhparent", IntegerType()),
          ("inhseqno", IntegerType())]),
        # pg_index / pg_constraint / pg_indexes / pg_sequences: full psql
        # \d / \di column surface, truthfully EMPTY — registered parquet
        # views have no real indexes/constraints, and fabricating them
        # would mislead clients
        ("pg_catalog_pg_index",
         [("indexrelid", IntegerType()), ("indrelid", IntegerType()),
          ("indnatts", ShortType()), ("indnkeyatts", ShortType()),
          ("indisunique", BooleanType()), ("indisprimary", BooleanType()),
          ("indisexclusion", BooleanType()), ("indimmediate", BooleanType()),
          ("indisclustered", BooleanType()), ("indisvalid", BooleanType()),
          ("indisreplident", BooleanType()),
          # int2vector in PG — coercible to smallint[], which is what
          # pgjdbc getPrimaryKeys relies on (a.attnum = ANY(i.indkey))
          ("indkey", ArrayType(ShortType())),
          ("indpred", StringType())]),
        ("pg_catalog_pg_constraint",
         [("oid", IntegerType()), ("conname", StringType()),
          ("connamespace", IntegerType()), ("contype", StringType()),
          ("condeferrable", BooleanType()), ("condeferred", BooleanType()),
          ("convalidated", BooleanType()), ("conrelid", IntegerType()),
          ("contypid", IntegerType()), ("conindid", IntegerType()),
          ("confrelid", IntegerType()),
          # int2[] in PG — array-typed so conkey[i] / = ANY(conkey)
          # (pgjdbc getImportedKeys) resolve
          ("conkey", ArrayType(ShortType())),
          ("confkey", ArrayType(ShortType()))]),
        ("pg_catalog_pg_indexes",
         [("schemaname", StringType()), ("tablename", StringType()),
          ("indexname", StringType()), ("tablespace", StringType()),
          ("indexdef", StringType())]),
        ("pg_catalog_pg_sequences",
         [("schemaname", StringType()), ("sequencename", StringType()),
          ("sequenceowner", StringType()), ("data_type", StringType()),
          ("start_value", LongType()), ("min_value", LongType()),
          ("max_value", LongType()), ("increment_by", LongType()),
          ("cycle", BooleanType()), ("cache_size", LongType()),
          ("last_value", LongType())]),
        ("pg_catalog_pg_description",
         [("objoid", IntegerType()), ("classoid", IntegerType()),
          ("objsubid", IntegerType()), ("description", StringType())]),
        ("pg_catalog_pg_extension",
         [("oid", IntegerType()), ("extname", StringType()),
          ("extversion", StringType())]),
        ("pg_catalog_pg_enum",
         [("oid", IntegerType()), ("enumtypid", IntegerType()),
          ("enumsortorder", FloatType()), ("enumlabel", StringType())]),
        ("pg_catalog_pg_stat_activity",
         [("pid", IntegerType()), ("datname", StringType()),
          ("usename", StringType()), ("state", StringType()),
          ("query", StringType())]),
        ("pg_catalog_pg_locks",
         [("locktype", StringType()), ("pid", IntegerType()),
          ("mode", StringType()), ("granted", BooleanType())]),
        ("pg_catalog_pg_cursors",
         [("name", StringType()), ("statement", StringType()),
          ("is_holdable", BooleanType())]),
        # remaining reference static tables as typed empty shells
        # (pg_catalog.rs:121-194 table list) — clients can join/filter them
        ("pg_catalog_pg_collation",
         [("oid", IntegerType()), ("collname", StringType()),
          ("collnamespace", IntegerType()), ("collencoding", IntegerType())]),
        ("pg_catalog_pg_depend",
         [("classid", IntegerType()), ("objid", IntegerType()),
          ("refclassid", IntegerType()), ("refobjid", IntegerType()),
          ("deptype", StringType())]),
        ("pg_catalog_pg_language",
         [("oid", IntegerType()), ("lanname", StringType()),
          ("lanispl", BooleanType())]),
        ("pg_catalog_pg_aggregate",
         [("aggfnoid", IntegerType()), ("aggkind", StringType()),
          ("aggtransfn", IntegerType())]),
        ("pg_catalog_pg_cast",
         [("oid", IntegerType()), ("castsource", IntegerType()),
          ("casttarget", IntegerType()), ("castcontext", StringType())]),
        ("pg_catalog_pg_conversion",
         [("oid", IntegerType()), ("conname", StringType())]),
        ("pg_catalog_pg_range",
         [("rngtypid", IntegerType()), ("rngsubtype", IntegerType())]),
        ("pg_catalog_pg_sequence",
         [("seqrelid", IntegerType()), ("seqtypid", IntegerType()),
          ("seqstart", LongType()), ("seqincrement", LongType()),
          ("seqmax", LongType()), ("seqmin", LongType()),
          ("seqcycle", BooleanType())]),
        ("pg_catalog_pg_policy",
         [("oid", IntegerType()), ("polname", StringType()),
          ("polrelid", IntegerType())]),
        ("pg_catalog_pg_publication",
         [("oid", IntegerType()), ("pubname", StringType()),
          ("puballtables", BooleanType())]),
        ("pg_catalog_pg_subscription",
         [("oid", IntegerType()), ("subname", StringType()),
          ("subenabled", BooleanType())]),
        ("pg_catalog_pg_tablespace",
         [("oid", IntegerType()), ("spcname", StringType()),
          ("spcowner", IntegerType())]),
        ("pg_catalog_pg_auth_members",
         [("roleid", IntegerType()), ("member", IntegerType()),
          ("grantor", IntegerType()), ("admin_option", BooleanType())]),
        ("pg_catalog_pg_attrdef",
         [("oid", IntegerType()), ("adrelid", IntegerType()),
          ("adnum", ShortType()), ("adbin", StringType())]),
        ("pg_catalog_pg_trigger",
         [("oid", IntegerType()), ("tgrelid", IntegerType()),
          ("tgname", StringType()), ("tgenabled", StringType())]),
        ("pg_catalog_pg_rewrite",
         [("oid", IntegerType()), ("rulename", StringType()),
          ("ev_class", IntegerType())]),
        ("pg_catalog_pg_event_trigger",
         [("oid", IntegerType()), ("evtname", StringType())]),
        ("pg_catalog_pg_partitioned_table",
         [("partrelid", IntegerType()), ("partstrat", StringType())]),
        ("pg_catalog_pg_statistic",
         [("starelid", IntegerType()), ("staattnum", ShortType())]),
        ("pg_catalog_pg_statistic_ext",
         [("oid", IntegerType()), ("stxrelid", IntegerType()),
          ("stxname", StringType())]),
        ("pg_catalog_pg_foreign_table",
         [("ftrelid", IntegerType()), ("ftserver", IntegerType())]),
        ("pg_catalog_pg_foreign_server",
         [("oid", IntegerType()), ("srvname", StringType())]),
        ("pg_catalog_pg_foreign_data_wrapper",
         [("oid", IntegerType()), ("fdwname", StringType())]),
        ("pg_catalog_pg_user_mapping",
         [("oid", IntegerType()), ("umuser", IntegerType())]),
        ("pg_catalog_pg_default_acl",
         [("oid", IntegerType()), ("defaclrole", IntegerType())]),
        ("pg_catalog_pg_init_privs",
         [("objoid", IntegerType()), ("classoid", IntegerType())]),
        ("pg_catalog_pg_seclabel",
         [("objoid", IntegerType()), ("label", StringType())]),
        ("pg_catalog_pg_shdescription",
         [("objoid", IntegerType()), ("description", StringType())]),
        ("pg_catalog_pg_largeobject",
         [("loid", IntegerType()), ("pageno", IntegerType())]),
        ("pg_catalog_pg_largeobject_metadata",
         [("oid", IntegerType()), ("lomowner", IntegerType())]),
        ("pg_catalog_pg_transform",
         [("oid", IntegerType()), ("trftype", IntegerType())]),
        ("pg_catalog_pg_ts_config",
         [("oid", IntegerType()), ("cfgname", StringType())]),
        ("pg_catalog_pg_ts_dict",
         [("oid", IntegerType()), ("dictname", StringType())]),
        ("pg_catalog_pg_ts_parser",
         [("oid", IntegerType()), ("prsname", StringType())]),
        ("pg_catalog_pg_ts_template",
         [("oid", IntegerType()), ("tmplname", StringType())]),
        ("pg_catalog_pg_replication_slots",
         [("slot_name", StringType()), ("plugin", StringType()),
          ("active", BooleanType())]),
        ("pg_catalog_pg_stat_gssapi",
         [("pid", IntegerType()), ("gss_authenticated", BooleanType()),
          ("encrypted", BooleanType())]),
        ("pg_catalog_pg_stat_user_tables",
         [("relid", IntegerType()), ("schemaname", StringType()),
          ("relname", StringType()), ("seq_scan", LongType()),
          ("n_live_tup", LongType())]),
        ("pg_catalog_pg_available_extensions",
         [("name", StringType()), ("default_version", StringType()),
          ("installed_version", StringType()), ("comment", StringType())]),
        ("pg_catalog_pg_timezone_abbrevs",
         [("abbrev", StringType()), ("utc_offset", StringType()),
          ("is_dst", BooleanType())]),
    ]:
        schema = StructType([StructField(n, t) for n, t in fields])
        build(name, schema, [])

    # ---- user views backed by the role model ----
    user_schema = StructType([
        StructField("usename", StringType()), StructField("usesysid", IntegerType()),
        StructField("usecreatedb", BooleanType()),
        StructField("usesuper", BooleanType()),
        StructField("passwd", StringType())])
    build("pg_catalog_pg_user", user_schema,
          [("postgres", 10, True, True, "********")])
    build("pg_catalog_pg_shadow", user_schema,
          [("postgres", 10, True, True, "********")])
    group_schema = StructType([
        StructField("groname", StringType()), StructField("grosysid", IntegerType()),
        StructField("grolist", StringType())])
    build("pg_catalog_pg_group", group_schema, [])

    tz_schema = StructType([
        StructField("name", StringType()), StructField("abbrev", StringType()),
        StructField("utc_offset", StringType()),
        StructField("is_dst", BooleanType())])
    build("pg_catalog_pg_timezone_names", tz_schema, [
        ("UTC", "UTC", "00:00:00", False),
        ("America/New_York", "EST", "-05:00:00", False),
        ("America/Chicago", "CST", "-06:00:00", False),
        ("America/Los_Angeles", "PST", "-08:00:00", False),
        ("Europe/London", "GMT", "00:00:00", False),
        ("Europe/Berlin", "CET", "01:00:00", False),
        ("Asia/Tokyo", "JST", "09:00:00", False),
        ("Asia/Shanghai", "CST", "08:00:00", False)])

    # ---- pg_get_keywords() static UDTF backing table ----
    kw_schema = StructType([
        StructField("word", StringType()), StructField("catcode", StringType()),
        StructField("barelabel", BooleanType()),
        StructField("catdesc", StringType()),
        StructField("baredesc", StringType())])
    keywords = ["all", "analyse", "analyze", "and", "any", "array", "as",
                "asc", "asymmetric", "between", "both", "case", "cast",
                "check", "collate", "column", "constraint", "create",
                "cross", "current_catalog", "current_date", "current_role",
                "current_schema", "current_time", "current_timestamp",
                "current_user", "default", "deferrable", "desc", "distinct",
                "do", "else", "end", "except", "false", "fetch", "for",
                "foreign", "from", "full", "grant", "group", "having", "in",
                "initially", "inner", "intersect", "into", "is", "join",
                "lateral", "leading", "left", "like", "limit", "localtime",
                "localtimestamp", "not", "null", "offset", "on", "only",
                "or", "order", "outer", "overlaps", "placing", "primary",
                "references", "returning", "right", "select", "session_user",
                "similar", "some", "symmetric", "table", "then", "to",
                "trailing", "true", "union", "unique", "user", "using",
                "variadic", "verbose", "when", "where", "window", "with"]
    build("pg_catalog_pg_get_keywords", kw_schema,
          [(w, "R", False, "reserved", None) for w in keywords])

    # ---- every remaining reference catalog table: typed empty shell ----
    # Long-tail catalogs no client ever writes (pg_amop, pg_shdepend, ...)
    # still need to RESOLVE with the stock column set for deep
    # introspection; an empty result is the truthful content. pg_class and
    # pg_attribute are refresh's.
    for tbl in PG_CATALOG_REF_SCHEMAS:
        view = f"pg_catalog_{tbl}"
        if view not in built and tbl not in ("pg_class", "pg_attribute"):
            build(view, StructType([]), [])
