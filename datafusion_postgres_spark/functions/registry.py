"""Postgres built-in functions Spark lacks.

Reference parity: ``datafusion-pg-functions`` (18 math UDFs,
``src/lib.rs:165-248``; per-function files under ``src/numeric/``) and the
catalog/system UDFs of ``datafusion-pg-catalog``
(``pg_catalog.rs:1508-1546``, SURVEY.md §2.9).

Spark-first: everything expressible as an expression is a **SQL UDF**
(``CREATE TEMPORARY FUNCTION … RETURN expr``) — Catalyst inlines the body
into the plan, so these run JVM-side inside whole-stage codegen with zero
Python transfer. Only erf/erfc/gamma/lgamma need a vectorized Pandas UDF
(Arrow-batched), mirroring the reference's ``src/numeric/special.rs``.

Spark has native equivalents for much of the reference's math surface:
``ceiling``/``sign``/``mod``/``div``/``width_bucket``/``string_agg`` all
exist in Spark 4 under the same names (math.slt parity via tests).
"""

from __future__ import annotations

import math
import unicodedata

from pyspark.sql import SparkSession

# the Unicode version Python's tables implement (PG reports its own)
_UNICODE_VERSION_BODY = f"'{unicodedata.unidata_version}'"

from datafusion_postgres_spark.functions import fts as _fts  # noqa: E402

# name -> (args, return type, body). Dispatched once per session.
# a jsonpath needs the Python evaluator when it carries a filter step or
# predicate syntax (?, comparisons, &&/||, exists) — anything beyond the
# member/subscript subset get_json_object speaks
_JSONPATH_COMPLEX = (
    "p RLIKE '[?<>!]|==|&&|\\\\|\\\\||exists\\\\(|like_regex|starts with'")

# Fast path for the SINGLE-predicate filter shape ORMs/pgjdbc emit —
# $.arr[*] ? (@.field <op> literal).out — evaluated as a pure-codegen
# variant expression (parse_json + filter HOF + variant_get), no Arrow
# hop. Anything beyond this shape still routes to the Python evaluator.
_JP_PRED_RE = (
    r"^\\$\\.([A-Za-z_][A-Za-z0-9_]*)(\\[\\*\\])? *\\? *\\( *@"
    r"\\.([A-Za-z_][A-Za-z0-9_]*) *(==|!=|<>|<=|>=|<|>) *"
    r'(-?[0-9][0-9.]*|"[^"]*") *\\) *(\\.([A-Za-z_][A-Za-z0-9_]*))?$')
_JSONPATH_SIMPLE_PRED = f"p RLIKE '{_JP_PRED_RE}'"


def _jsonpath_fast_sql() -> tuple[str, str]:
    """(first_expr, exists_expr) for the single-predicate fast path.
    Subexpressions are inlined repeatedly — SQL UDF bodies have no lets.
    Comparison semantics mirror functions/jsonpath.py lax mode: numeric
    literals compare as double, double-quoted literals as string;
    missing fields yield NULL and drop out of the filter."""
    g = (lambda i: f"regexp_extract(p, '{_JP_PRED_RE}', {i})")
    arr, fld, op, lit, out = g(1), g(3), g(4), g(5), g(7)
    sval = f"try_variant_get(x, '$.' || {fld}, 'string')"
    nval = f"try_variant_get(x, '$.' || {fld}, 'double')"
    slit = f"regexp_replace({lit}, '^\"|\"$', '')"
    nlit = f"try_cast({lit} AS DOUBLE)"

    def disp(a, b):
        return (f"CASE {op} WHEN '==' THEN {a} = {b} "
                f"WHEN '!=' THEN {a} != {b} WHEN '<>' THEN {a} != {b} "
                f"WHEN '<' THEN {a} < {b} WHEN '<=' THEN {a} <= {b} "
                f"WHEN '>' THEN {a} > {b} ELSE {a} >= {b} END")

    cmp = (f"CASE WHEN substr({lit}, 1, 1) = '\"' "
           f"THEN {disp(sval, slit)} ELSE {disp(nval, nlit)} END")
    filt = (f"filter(try_variant_get(try_parse_json(j), '$.' || {arr}, "
            f"'array<variant>'), x -> {cmp})")
    first = f"get({filt}, 0)"  # get(): NULL (not ANSI error) when empty
    first_expr = (f"CASE WHEN {out} = '' THEN to_json({first}) "
                  f"ELSE try_variant_get({first}, '$.' || {out}, "
                  f"'string') END")
    exists_expr = f"size({filt}) > 0"
    return first_expr, exists_expr


_JP_FAST_FIRST, _JP_FAST_EXISTS = _jsonpath_fast_sql()


def _format_type_body() -> str:
    """``format_type``: one CASE arm per base and array type OID."""
    from datafusion_postgres_spark.catalog.pg_catalog import (
        format_type_names,
    )
    arms = " ".join(f"WHEN {oid} THEN '{name}'"
                    for oid, name in format_type_names().items())
    return f"CASE id {arms} ELSE '???' END"


def _ts_headline_body() -> str:
    """ts_headline SQL body: mark matches with StartSel/StopSel; with an
    options string, return one MaxWords fragment anchored at the first
    matched word. Subexpressions are inlined repeatedly because SQL UDF
    bodies have no lets."""
    toks = "split(trim(doc), '\\\\s+')"
    stems = _fts.stemmed_array_sql(
        f"transform({toks}, "
        "w -> regexp_replace(lower(w), '[^a-z0-9]+', ''))", "transform")
    ssel = ("coalesce(nullif(regexp_extract(opts, "
            "'StartSel *= *([^,]+)', 1), ''), '<b>')")
    esel = ("coalesce(nullif(regexp_extract(opts, "
            "'StopSel *= *([^,]+)', 1), ''), '</b>')")
    marked = (f"zip_with({toks}, {stems}, (orig, st) -> "
              "CASE WHEN array_contains(q, st) "
              f"THEN concat({ssel}, orig, {esel}) ELSE orig END)")
    maxw = ("coalesce(try_cast(regexp_extract(opts, "
            "'MaxWords *= *([0-9]+)', 1) AS INT), 35)")
    first_match = (f"coalesce(try_element_at(filter(sequence(1, "
                   f"size({toks})), "
                   f"i -> array_contains(q, element_at({stems}, i))), 1), 1)")
    start = f"greatest(1, least({first_match}, size({toks}) - {maxw} + 1))"
    return ("CASE WHEN doc IS NULL OR q IS NULL THEN NULL "
            f"WHEN opts IS NULL THEN concat_ws(' ', {marked}) "
            f"ELSE concat_ws(' ', slice({marked}, {start}, {maxw})) END")


SQL_UDFS: list[tuple[str, str, str, str]] = [
    # -- degree trigonometry (reference: src/numeric/degree_trig.rs) -------
    ("sind", "x DOUBLE", "DOUBLE", "sin(radians(x))"),
    ("cosd", "x DOUBLE", "DOUBLE", "cos(radians(x))"),
    ("tand", "x DOUBLE", "DOUBLE",
     # PG returns Infinity at odd multiples of 90, NULL for NULL
     "CASE WHEN x IS NULL THEN NULL "
     "WHEN mod(cast(x as double), 180.0D) = 90.0D THEN double('Infinity') "
     "WHEN mod(cast(x as double), 180.0D) = -90.0D THEN double('-Infinity') "
     "ELSE tan(radians(x)) END"),
    ("cotd", "x DOUBLE", "DOUBLE",
     "CASE WHEN x IS NULL THEN NULL "
     "WHEN mod(cast(x as double), 180.0D) = 0.0D THEN double('Infinity') "
     "WHEN mod(cast(x as double), 90.0D) = 0.0D THEN 0.0D "
     "ELSE cos(radians(x))/sin(radians(x)) END"),
    ("asind", "x DOUBLE", "DOUBLE", "degrees(asin(x))"),
    ("acosd", "x DOUBLE", "DOUBLE", "degrees(acos(x))"),
    ("atand", "x DOUBLE", "DOUBLE", "degrees(atan(x))"),
    ("atan2d", "y DOUBLE, x DOUBLE", "DOUBLE", "degrees(atan2(y, x))"),
    # -- random_normal (src/numeric/random_normal.rs) ----------------------
    ("random_normal", "mean DOUBLE DEFAULT 0.0D, stddev DOUBLE DEFAULT 1.0D",
     "DOUBLE", "randn() * stddev + mean"),
    # -- pg div/mod semantics: NULL (not error) on zero divisor
    #    (tests/sqllogictest/math.slt:17-18; src/numeric/{div,mod_op}.rs)
    ("pg_div", "y BIGINT, x BIGINT", "BIGINT",
     "CASE WHEN x = 0 THEN NULL ELSE div(y, x) END"),
    ("pg_mod", "y BIGINT, x BIGINT", "BIGINT",
     "CASE WHEN x = 0 THEN NULL ELSE y % x END"),
    # -- session / catalog constants (pg_catalog.rs:1508-1546) -------------
    ("pg_version", "", "STRING",
     "'PostgreSQL 15.0 (datafusion-postgres-spark 0.1.0 on Apache Spark)'"),
    ("pg_session_user", "", "STRING", "'postgres'"),
    ("pg_current_schema", "", "STRING", "'public'"),
    ("pg_current_database", "", "STRING", "'postgres'"),
    ("pg_current_schemas", "include_implicit BOOLEAN DEFAULT false",
     "ARRAY<STRING>",
     "CASE WHEN include_implicit THEN array('pg_catalog', 'public') "
     "ELSE array('public') END"),
    ("pg_get_userbyid", "id BIGINT", "STRING", "'postgres'"),
    ("pg_table_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_get_expr", "expr STRING, relid BIGINT, pretty BOOLEAN DEFAULT false",
     "STRING", "''"),
    ("pg_encoding_to_char", "id BIGINT", "STRING",
     "CASE WHEN id = 6 THEN 'UTF8' ELSE 'SQL_ASCII' END"),
    ("pg_backend_pid", "", "INT", "42"),
    ("pg_relation_size", "id BIGINT", "BIGINT", "0"),
    ("pg_total_relation_size", "id BIGINT", "BIGINT", "0"),
    ("pg_stat_get_numscans", "id BIGINT", "BIGINT", "0"),
    ("pg_get_constraintdef", "id BIGINT, pretty BOOLEAN DEFAULT false",
     "STRING", "NULL"),
    ("pg_get_partkeydef", "id BIGINT", "STRING", "NULL"),
    ("pg_relation_is_publishable", "id BIGINT", "BOOLEAN", "true"),
    ("pg_get_statisticsobjdef_columns", "id BIGINT", "STRING", "NULL"),
    ("pg_to_regclass", "name STRING", "BIGINT",
     "(SELECT oid FROM pg_catalog_pg_class WHERE relname = name LIMIT 1)"),
    ("pg_obj_description",
     "id BIGINT, catalog STRING DEFAULT 'pg_class'", "STRING", "NULL"),
    ("pg_col_description", "id BIGINT, colnum INT", "STRING", "NULL"),
    ("current_setting",
     "name STRING, missing_ok BOOLEAN DEFAULT false", "STRING",
     "CASE lower(name) WHEN 'search_path' THEN '\"$user\", public' "
     "WHEN 'server_version' THEN '15.0' "
     "WHEN 'server_version_num' THEN '150000' "
     "WHEN 'timezone' THEN 'UTC' WHEN 'client_encoding' THEN 'UTF8' "
     "WHEN 'datestyle' THEN 'ISO, MDY' WHEN 'bytea_output' THEN 'hex' "
     "WHEN 'max_index_keys' THEN '32' "
     "WHEN 'standard_conforming_strings' THEN 'on' ELSE '' END"),
    # read-only fallback for set_config embedded in larger queries; the
    # statement-shaped `SELECT set_config(...)` form is handled by the
    # hook chain (server/hooks.py), which carries the actual side effect
    ("set_config", "name STRING, value STRING, is_local BOOLEAN", "STRING",
     "value"),
    ("pg_get_viewdef", "id BIGINT, pretty BOOLEAN DEFAULT false", "STRING",
     "NULL"),
    ("pg_get_indexdef", "id BIGINT", "STRING", "NULL"),
    # -- \df support: real signatures from the pg_proc view (which is in
    #    turn generated from THIS registry — see catalog._proc_rows)
    # (aggregated form — a column argument inlines these as CORRELATED
    # scalar subqueries, which Spark only supports when aggregated)
    ("pg_get_function_arguments", "id BIGINT", "STRING",
     "(SELECT max(proargs_text) FROM pg_catalog_pg_proc WHERE oid = id)"),
    ("pg_get_function_identity_arguments", "id BIGINT", "STRING",
     "(SELECT max(proargs_text) FROM pg_catalog_pg_proc WHERE oid = id)"),
    ("pg_get_function_result", "id BIGINT", "STRING",
     "(SELECT max(proresult_text) FROM pg_catalog_pg_proc WHERE oid = id)"),
    ("pg_get_functiondef", "id BIGINT", "STRING",
     "(SELECT max(concat('CREATE OR REPLACE FUNCTION pg_catalog.', proname, "
     "'(', proargs_text, ')\\n RETURNS ', proresult_text, "
     "'\\n LANGUAGE sql\\nAS $function$', prosrc, '$function$')) "
     "FROM pg_catalog_pg_proc WHERE oid = id)"),
    ("pg_size_pretty", "n BIGINT", "STRING",
     "CASE WHEN n < 10240 THEN concat(n, ' bytes') "
     "WHEN n < 10485760 THEN concat(CAST(div(n, 1024) AS STRING), ' kB') "
     "WHEN n < 10737418240 THEN concat(CAST(div(n, 1048576) AS STRING), ' MB') "
     "ELSE concat(CAST(div(n, 1073741824) AS STRING), ' GB') END"),
    ("pg_postmaster_start_time", "", "TIMESTAMP",
     "TIMESTAMP '2024-01-01 00:00:00'"),
    ("pg_is_in_recovery", "", "BOOLEAN", "false"),
    ("txid_current", "", "BIGINT", "1"),
    ("pg_database_size", "name STRING DEFAULT NULL", "BIGINT", "0"),
    ("has_table_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_schema_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_any_column_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_database_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    # -- identifier quoting (pg_catalog/quote_ident_udf.rs) ----------------
    ("quote_ident", "s STRING", "STRING",
     "CASE WHEN s IS NULL THEN NULL "
     "WHEN s RLIKE '^[a-z_][a-z0-9_$]*$' THEN s "
     "ELSE concat('\"', replace(s, '\"', '\"\"'), '\"') END"),
    ("quote_literal", "s STRING", "STRING",
     "CASE WHEN s IS NULL THEN NULL "
     "ELSE concat('''', replace(s, '''', ''''''), '''') END"),
    ("parse_ident", "s STRING, strict BOOLEAN DEFAULT true", "ARRAY<STRING>",
     "transform(split(s, '\\\\.'), "
     "x -> regexp_replace(trim(x), '^\"|\"$', ''))"),
    # -- array bounds (pg_catalog/array_bounds_udf.rs: lower=1, upper=len) -
    ("pg_array_length", "arr ARRAY<STRING>, dim INT DEFAULT 1", "INT",
     "CASE WHEN dim = 1 AND size(arr) > 0 THEN size(arr) ELSE NULL END"),
    ("pg_array_upper", "arr ARRAY<STRING>, dim INT DEFAULT 1", "INT",
     "CASE WHEN dim = 1 AND size(arr) > 0 THEN size(arr) ELSE NULL END"),
    ("pg_array_lower", "arr ARRAY<STRING>, dim INT DEFAULT 1", "INT",
     "CASE WHEN dim = 1 AND size(arr) > 0 THEN 1 ELSE NULL END"),
    ("pg_string_to_array", "s STRING, delim STRING", "ARRAY<STRING>",
     "CASE WHEN s IS NULL THEN NULL "
     "WHEN delim IS NULL THEN split(s, '') "
     "WHEN delim = '' THEN array(s) "
     "ELSE split(s, concat('\\\\Q', delim, '\\\\E')) END"),
    # -- format_type(oid, typmod)  (pg_catalog/format_type.rs) -------------
    # -- functions.md P1/P2 batch (string / binary / datetime / uuid /
    #    array / system rows marked planned in the reference roadmap) ------
    ("casefold", "s STRING", "STRING", "lower(s)"),
    ("quote_nullable", "s STRING", "STRING",
     "CASE WHEN s IS NULL THEN 'NULL' "
     "ELSE concat('''', replace(s, '''', ''''''), '''') END"),
    # regexp_substr / crc32 / every / variance: Spark natives with matching
    # semantics (regexp_substr returns NULL on no match, like PG 15)
    ("regexp_split_to_array", "s STRING, p STRING", "ARRAY<STRING>",
     "split(s, p)"),
    ("to_bin", "n BIGINT", "STRING", "bin(n)"),
    ("to_oct", "n BIGINT", "STRING", "conv(cast(n AS STRING), 10, 8)"),
    ("convert_from", "b BINARY, enc STRING", "STRING",
     "decode(b, CASE upper(enc) WHEN 'UTF8' THEN 'UTF-8' ELSE enc END)"),
    ("convert_to", "s STRING, enc STRING", "BINARY",
     "encode(s, CASE upper(enc) WHEN 'UTF8' THEN 'UTF-8' ELSE enc END)"),
    # bytea accessors (byte n is 0-based; bit n is LSB-first within byte)
    ("get_byte", "b BINARY, n INT", "INT",
     "cast(conv(hex(substr(b, n + 1, 1)), 16, 10) AS INT)"),
    ("set_byte", "b BINARY, n INT, v INT", "BINARY",
     "concat(substr(b, 1, n), unhex(lpad(hex(v % 256), 2, '0')), "
     "substr(b, n + 2))"),
    ("get_bit", "b BINARY, n INT", "INT",
     "cast(shiftright(conv(hex(substr(b, cast(n / 8 AS INT) + 1, 1)), 16, 10),"
     " n % 8) & 1 AS INT)"),
    ("timezone", "zone STRING, ts TIMESTAMP", "TIMESTAMP_NTZ",
     "to_timestamp_ntz(from_utc_timestamp(ts, zone))"),
    ("age", "a TIMESTAMP_NTZ, b TIMESTAMP_NTZ DEFAULT NULL",
     "INTERVAL DAY TO SECOND",
     # deviation from PG's symbolic year-month decomposition: day-time
     # interval (documented; the reference also simplifies here).
     # 1-arg form = age(current_date, x), PG's midnight-anchored diff
     "CASE WHEN b IS NULL THEN cast(current_date() AS TIMESTAMP_NTZ) - a "
     "ELSE a - b END"),
    ("pg_epoch_ts", "ts TIMESTAMP", "DOUBLE",
     "cast(unix_micros(ts) AS DOUBLE) / 1000000.0D"),
    ("pg_epoch_iv", "i INTERVAL DAY TO SECOND", "DOUBLE",
     "cast(cast((extract(DAY FROM i) * 24 + extract(HOUR FROM i)) * 60 "
     "+ extract(MINUTE FROM i) AS BIGINT) * 60 AS DOUBLE) "
     "+ cast(extract(SECOND FROM i) AS DOUBLE)"),
    ("clock_timestamp", "", "TIMESTAMP", "now()"),
    ("statement_timestamp", "", "TIMESTAMP", "now()"),
    ("transaction_timestamp", "", "TIMESTAMP", "now()"),
    ("timeofday", "", "STRING",
     "date_format(now(), 'EEE MMM dd HH:mm:ss.SSSSSS yyyy zz')"),
    ("isfinite", "ts TIMESTAMP_NTZ", "BOOLEAN",
     "CASE WHEN ts IS NULL THEN NULL ELSE true END"),
    ("gen_random_uuid", "", "STRING", "uuid()"),
    ("uuidv4", "", "STRING", "uuid()"),
    ("uuidv7", "", "STRING",
     # RFC 9562 v7: 48-bit unix millis, ver nibble 7, variant bits 10
     "lower(concat("
     "substr(lpad(hex(unix_millis(now())), 12, '0'), 1, 8), '-', "
     "substr(lpad(hex(unix_millis(now())), 12, '0'), 9, 4), '-', "
     "'7', lpad(hex(cast(rand() * 4096 AS BIGINT)), 3, '0'), '-', "
     "hex(8 + cast(rand() * 4 AS BIGINT)), "
     "lpad(hex(cast(rand() * 4096 AS BIGINT)), 3, '0'), '-', "
     "lpad(hex(cast(rand() * 281474976710656 AS BIGINT)), 12, '0')))"),
    ("uuid_extract_version", "u STRING", "INT",
     "cast(conv(substr(replace(u, '-', ''), 13, 1), 16, 10) AS INT)"),
    ("uuid_extract_timestamp", "u STRING", "TIMESTAMP",
     "CASE WHEN substr(replace(u, '-', ''), 13, 1) = '7' THEN "
     "timestamp_millis(cast(conv(substr(replace(u, '-', ''), 1, 12), 16, 10)"
     " AS BIGINT)) ELSE NULL END"),
    ("array_fill", "v STRING, dims ARRAY<INT>", "ARRAY<STRING>",
     "array_repeat(v, element_at(dims, 1))"),
    ("array_shuffle", "arr ARRAY<STRING>", "ARRAY<STRING>", "shuffle(arr)"),
    ("array_sample", "arr ARRAY<STRING>, n INT", "ARRAY<STRING>",
     "slice(shuffle(arr), 1, n)"),
    ("trim_array", "arr ARRAY<STRING>, n INT", "ARRAY<STRING>",
     "slice(arr, 1, greatest(size(arr) - n, 0))"),
    ("pg_size_bytes", "s STRING", "BIGINT",
     "cast(cast(regexp_extract(trim(s), '^(-?[0-9.]+)', 1) AS DOUBLE) * "
     "CASE regexp_extract(upper(trim(s)), '([KMGTP]?B)$', 1) "
     "WHEN 'KB' THEN 1024 WHEN 'MB' THEN 1048576 "
     "WHEN 'GB' THEN 1073741824 WHEN 'TB' THEN 1099511627776 "
     "WHEN 'PB' THEN 1125899906842624 ELSE 1 END AS BIGINT)"),
    ("pg_input_is_valid", "s STRING, t STRING", "BOOLEAN",
     "CASE WHEN s IS NULL THEN NULL ELSE "
     "CASE lower(t) "
     "WHEN 'integer' THEN try_cast(s AS INT) IS NOT NULL "
     "WHEN 'int4' THEN try_cast(s AS INT) IS NOT NULL "
     "WHEN 'bigint' THEN try_cast(s AS BIGINT) IS NOT NULL "
     "WHEN 'int8' THEN try_cast(s AS BIGINT) IS NOT NULL "
     "WHEN 'smallint' THEN try_cast(s AS SMALLINT) IS NOT NULL "
     "WHEN 'numeric' THEN try_cast(s AS DECIMAL(38,10)) IS NOT NULL "
     "WHEN 'double precision' THEN try_cast(s AS DOUBLE) IS NOT NULL "
     "WHEN 'float8' THEN try_cast(s AS DOUBLE) IS NOT NULL "
     "WHEN 'real' THEN try_cast(s AS FLOAT) IS NOT NULL "
     "WHEN 'date' THEN try_cast(s AS DATE) IS NOT NULL "
     "WHEN 'timestamp' THEN try_cast(s AS TIMESTAMP_NTZ) IS NOT NULL "
     "WHEN 'boolean' THEN try_cast(s AS BOOLEAN) IS NOT NULL "
     "ELSE true END END"),
    ("pg_column_size", "s STRING", "INT",
     # approximation: encoded byte length + 4-byte varlena header
     "CASE WHEN s IS NULL THEN NULL ELSE octet_length(s) + 4 END"),
    ("pg_client_encoding", "", "STRING", "'UTF8'"),
    ("pg_typename", "t STRING", "STRING",
     # spark typeof() name -> PG type name (pg_typeof support)
     "CASE WHEN t LIKE 'decimal%' THEN 'numeric' "
     "WHEN t LIKE 'array%' THEN 'text[]' "
     "WHEN t LIKE 'struct%' THEN 'record' "
     "ELSE CASE t WHEN 'int' THEN 'integer' WHEN 'bigint' THEN 'bigint' "
     "WHEN 'smallint' THEN 'smallint' WHEN 'tinyint' THEN 'smallint' "
     "WHEN 'double' THEN 'double precision' WHEN 'float' THEN 'real' "
     "WHEN 'string' THEN 'text' WHEN 'boolean' THEN 'boolean' "
     "WHEN 'date' THEN 'date' WHEN 'binary' THEN 'bytea' "
     "WHEN 'timestamp' THEN 'timestamp with time zone' "
     "WHEN 'timestamp_ntz' THEN 'timestamp without time zone' "
     "WHEN 'void' THEN 'unknown' "
     "WHEN 'interval day to second' THEN 'interval' "
     "WHEN 'interval year to month' THEN 'interval' ELSE t END END"),
    ("format_type", "id BIGINT, typmod INT DEFAULT NULL", "STRING",
     _format_type_body()),
    # -- functions.md P1/P2 batch 3 (remaining planned rows) ---------------
    # bytea popcount: per-hex-nibble bit_count, summed JVM-side
    ("pg_bit_count", "b BINARY", "BIGINT",
     "aggregate(transform(filter(split(hex(b), ''), x -> x <> ''), "
     "ch -> bit_count(cast(conv(ch, 16, 10) AS INT))), 0, "
     "(acc, x) -> acc + x, acc -> cast(acc AS BIGINT))"),
    # set_bit: LSB-first within byte, mirroring get_bit above
    ("set_bit", "b BINARY, n INT, v INT", "BINARY",
     "concat(substr(b, 1, cast(n / 8 AS INT)), "
     "unhex(lpad(hex((cast(conv(hex(substr(b, cast(n / 8 AS INT) + 1, 1)), "
     "16, 10) AS INT) & ~shiftleft(1, n % 8) | shiftleft(v % 2, n % 8)) "
     "% 256), 2, '0')), substr(b, cast(n / 8 AS INT) + 2))"),
    ("justify_hours", "i INTERVAL DAY TO SECOND", "INTERVAL DAY TO SECOND",
     # Spark's day-time interval is micros-normalized: 25:00:00 already
     # renders as 1 day 01:00:00, which IS justify_hours' output
     "cast(i AS INTERVAL DAY TO SECOND)"),
    # justify_days/justify_interval move 30-day chunks into months — a
    # month-and-day interval has no Spark SQL type that survives collect()
    # (CalendarIntervalType has no Python representation), so these render
    # PG's interval text ('1 mon 5 days 04:30:00') directly, which is what
    # the pg wire encoder ships anyway.
    ("pg_justify_text",
     "mons BIGINT, days BIGINT, h BIGINT, m BIGINT, s DECIMAL(10,6)",
     "STRING",
     # PG's EncodeInterval pluralizes on value != 1 (so -1 → 'mons')
     "CASE WHEN mons = 0 AND days = 0 AND h = 0 AND m = 0 AND s = 0 "
     "THEN '00:00:00' ELSE trim(concat("
     "CASE WHEN mons <> 0 THEN concat(mons, CASE WHEN mons = 1 "
     "THEN ' mon ' ELSE ' mons ' END) ELSE '' END, "
     "CASE WHEN days <> 0 THEN concat(days, CASE WHEN days = 1 "
     "THEN ' day ' ELSE ' days ' END) ELSE '' END, "
     "CASE WHEN h = 0 AND m = 0 AND s = 0 THEN '' ELSE concat("
     "CASE WHEN h < 0 OR m < 0 OR s < 0 THEN '-' ELSE '' END, "
     "lpad(cast(abs(h) AS STRING), 2, '0'), ':', "
     "lpad(cast(abs(m) AS STRING), 2, '0'), ':', "
     "lpad(cast(cast(floor(abs(s)) AS BIGINT) AS STRING), 2, '0'), "
     "CASE WHEN abs(s) = floor(abs(s)) THEN '' "
     # two-arg rtrim is rtrim(trimStr, str) in Spark SQL
     "ELSE rtrim('0', substr(cast(abs(s) % 1 AS STRING), 2)) END) END)) "
     "END"),
    ("justify_days", "i INTERVAL DAY TO SECOND", "STRING",
     "pg_justify_text(cast(div(extract(DAY FROM i), 30) AS BIGINT), "
     "cast(extract(DAY FROM i) % 30 AS BIGINT), "
     "cast(extract(HOUR FROM i) AS BIGINT), "
     "cast(extract(MINUTE FROM i) AS BIGINT), "
     "cast(extract(SECOND FROM i) AS DECIMAL(10,6)))"),
    ("justify_interval", "i INTERVAL DAY TO SECOND", "STRING",
     # day-time input is already hour-normalized (see justify_hours), so
     # justify_interval == justify_days on this type
     "justify_days(i)"),
    # PG regexp_matches (first-match capture groups; 'g' flattens all
    # matches) — thin SQL shim over the vectorized Pandas implementation
    ("regexp_matches", "s STRING, pat STRING, flags STRING DEFAULT ''",
     "ARRAY<STRING>", "pg_regexp_matches(s, pat, flags)"),
    ("pg_sleep_for", "i INTERVAL DAY TO SECOND", "STRING",
     "pg_sleep(cast(unix_micros(cast('1970-01-01 00:00:00+00:00' "
     "AS TIMESTAMP) + i) AS DOUBLE) / 1000000.0D)"),
    ("pg_sleep_until", "ts TIMESTAMP", "STRING",
     "pg_sleep(greatest(0.0D, cast(unix_micros(ts) - unix_micros(now()) "
     "AS DOUBLE) / 1000000.0D))"),
    ("pg_input_error_info", "s STRING, t STRING", "STRING",
     "CASE WHEN pg_input_is_valid(s, t) THEN NULL "
     "ELSE concat('invalid input syntax for type ', t, ': \"', s, '\"') END"),
    # normalize(): SQL wrapper supplies PG's default form over the
    # Pandas-backed pg_normalize (registered before the SQL UDF pass)
    ("normalize", "s STRING, form STRING DEFAULT 'NFC'", "STRING",
     "pg_normalize(s, form)"),
    # -- system-info P3 tranche (functions.md): the introspection surface
    #    client tools probe. Visibility/privilege checks are true in a
    #    single-schema engine with RBAC enforced at statement level;
    #    to_reg* resolve against the live catalog views. ------------------
    ("pg_function_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_type_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_collation_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_conversion_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_opclass_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_operator_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_opfamily_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_statistics_obj_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_ts_config_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_ts_dict_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_ts_parser_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("pg_ts_template_is_visible", "id BIGINT", "BOOLEAN", "true"),
    ("has_column_privilege",
     "a STRING, b STRING, c STRING DEFAULT NULL, priv STRING DEFAULT NULL",
     "BOOLEAN", "true"),
    ("has_function_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_language_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_sequence_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_server_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_tablespace_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_type_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_parameter_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_foreign_data_wrapper_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("has_largeobject_privilege",
     "a STRING, b STRING, priv STRING DEFAULT NULL", "BOOLEAN", "true"),
    ("pg_has_role", "a STRING, b STRING, priv STRING DEFAULT NULL",
     "BOOLEAN", "true"),
    ("current_query", "", "STRING", "NULL"),
    ("pg_char_to_encoding", "name STRING", "INT",
     "CASE upper(name) WHEN 'UTF8' THEN 6 WHEN 'SQL_ASCII' THEN 0 "
     "ELSE -1 END"),
    ("to_regproc", "name STRING", "BIGINT",
     "(SELECT max(oid) FROM pg_catalog_pg_proc WHERE proname = name)"),
    ("to_regprocedure", "name STRING", "BIGINT",
     "(SELECT max(oid) FROM pg_catalog_pg_proc "
     "WHERE proname = regexp_extract(name, '^([^(]+)', 1))"),
    ("to_regtype", "name STRING", "BIGINT",
     "(SELECT max(oid) FROM pg_catalog_pg_type WHERE typname = name)"),
    ("to_regnamespace", "name STRING", "BIGINT",
     "(SELECT max(oid) FROM pg_catalog_pg_namespace WHERE nspname = name)"),
    ("to_regrole", "name STRING", "BIGINT",
     "(SELECT max(oid) FROM pg_catalog_pg_roles WHERE rolname = name)"),
    ("to_regcollation", "name STRING", "BIGINT", "NULL"),
    ("to_regoper", "name STRING", "BIGINT", "NULL"),
    ("to_regoperator", "name STRING", "BIGINT", "NULL"),
    ("to_regtypemod", "name STRING", "INT", "-1"),
    ("pg_get_serial_sequence", "tbl STRING, col STRING", "STRING", "NULL"),
    ("pg_get_ruledef", "id BIGINT, pretty BOOLEAN DEFAULT false", "STRING",
     "NULL"),
    ("pg_get_statisticsobjdef", "id BIGINT", "STRING", "NULL"),
    ("pg_get_partition_constraintdef", "id BIGINT", "STRING", "NULL"),
    ("pg_get_acl", "cls BIGINT, id BIGINT, sub INT DEFAULT 0",
     "ARRAY<STRING>", "NULL"),
    ("shobj_description", "id BIGINT, catalog STRING", "STRING", "NULL"),
    ("unicode_version", "", "STRING", _UNICODE_VERSION_BODY),
    # -- functions.md residual closure: the remaining planned fn rows that
    #    had neither a Spark native nor a registration (audited against the
    #    reference catalog datafusion-pg-functions/functions.md) -----------
    ("starts_with", "a STRING, b STRING", "BOOLEAN", "startswith(a, b)"),
    ("to_hex", "n BIGINT", "STRING",
     # PG prints two's-complement at the argument's declared width; with no
     # static overloads, int4-range negatives render 32-bit, wider 64-bit
     "CASE WHEN n IS NULL THEN NULL WHEN n >= 0 THEN lower(hex(n)) "
     "WHEN n >= -2147483648 THEN lower(hex(n & 4294967295)) "
     "ELSE lower(hex(n)) END"),
    ("sha224", "b BINARY", "BINARY", "unhex(sha2(b, 224))"),
    ("sha256", "b BINARY", "BINARY", "unhex(sha2(b, 256))"),
    ("sha384", "b BINARY", "BINARY", "unhex(sha2(b, 384))"),
    ("sha512", "b BINARY", "BINARY", "unhex(sha2(b, 512))"),
    ("convert", "b BINARY, src STRING, dst STRING", "BINARY",
     "convert_to(convert_from(b, src), dst)"),
    ("regexp_match", "s STRING, pat STRING, flags STRING DEFAULT ''",
     "ARRAY<STRING>",
     # single-match form of regexp_matches ('g' has no meaning here)
     "pg_regexp_matches(s, pat, replace(flags, 'g', ''))"),
    # numeric scale introspection: STRING parameter keeps the argument's
    # DECLARED scale (Spark's decimal->string cast renders it exactly),
    # which is what PG's scale()/min_scale()/trim_scale() inspect
    ("scale", "s STRING", "INT",
     "CASE WHEN s IS NULL THEN NULL WHEN instr(s, '.') = 0 THEN 0 "
     "ELSE length(s) - instr(s, '.') END"),
    ("min_scale", "s STRING", "INT",
     "CASE WHEN s IS NULL THEN NULL WHEN instr(s, '.') = 0 THEN 0 "
     "ELSE length(rtrim('0', s)) - instr(s, '.') END"),
    ("trim_scale", "s STRING", "STRING",
     # numeric in PG; STRING here so the trimmed scale survives the wire
     # (a DECIMAL(38,18) return type would re-pad the zeros)
     "CASE WHEN s IS NULL THEN NULL WHEN instr(s, '.') = 0 THEN s "
     "ELSE rtrim('.', rtrim('0', s)) END"),
    ("setseed", "x DOUBLE", "STRING",
     # capability gate: Spark's rand() is seeded per-expression at plan
     # time; a session-level reseed has no Spark counterpart. void/NULL.
     "CAST(NULL AS STRING)"),
    ("date_bin", "stride INTERVAL DAY TO SECOND, ts TIMESTAMP, "
     "origin TIMESTAMP", "TIMESTAMP",
     # bin start = ts - ((ts - origin) mod stride), exact in microseconds
     "timestamp_micros(unix_micros(ts) - pmod(unix_micros(ts) - "
     "unix_micros(origin), cast((extract(DAY FROM stride) * 24 + "
     "extract(HOUR FROM stride)) * 60 + extract(MINUTE FROM stride) "
     "AS BIGINT) * 60000000 + "
     "cast(extract(SECOND FROM stride) * 1000000 AS BIGINT)))"),
    # PG array surface over 1-D arrays (the engine's arrays are 1-D;
    # ARRAY<STRING> parameters ride Spark's implicit element coercion,
    # same convention as pg_array_length above)
    ("array_cat", "a ARRAY<STRING>, b ARRAY<STRING>", "ARRAY<STRING>",
     "CASE WHEN a IS NULL THEN b WHEN b IS NULL THEN a "
     "ELSE concat(a, b) END"),
    ("array_ndims", "arr ARRAY<STRING>", "INT",
     "CASE WHEN arr IS NULL THEN NULL ELSE 1 END"),
    ("array_dims", "arr ARRAY<STRING>", "STRING",
     "CASE WHEN arr IS NULL OR size(arr) = 0 THEN NULL "
     "ELSE concat('[1:', size(arr), ']') END"),
    ("array_positions", "arr ARRAY<STRING>, e STRING", "ARRAY<INT>",
     "CASE WHEN arr IS NULL THEN NULL ELSE "
     "filter(transform(arr, (v, i) -> IF(v <=> e, i + 1, "
     "CAST(NULL AS INT))), x -> x IS NOT NULL) END"),
    ("array_replace", "arr ARRAY<STRING>, f STRING, t STRING",
     "ARRAY<STRING>", "transform(arr, v -> IF(v <=> f, t, v))"),
    ("array_reverse", "arr ARRAY<STRING>", "ARRAY<STRING>", "reverse(arr)"),
    # -- JSON family: functions.md marks these ❌ "DataFusion lacks the
    #    type", but Spark's JSON expressions make them expressible — a
    #    beyond-reference surface. JSON rides as STRING (same convention
    #    as the ->/->>/#> operator rewrites). ------------------------------
    ("json_typeof", "j STRING", "STRING",
     "CASE WHEN j IS NULL THEN NULL "
     "WHEN startswith(ltrim(j), '{') THEN 'object' "
     "WHEN startswith(ltrim(j), '[') THEN 'array' "
     "WHEN startswith(ltrim(j), '\"') THEN 'string' "
     "WHEN trim(j) IN ('true', 'false') THEN 'boolean' "
     "WHEN trim(j) = 'null' THEN 'null' ELSE 'number' END"),
    ("jsonb_typeof", "j STRING", "STRING", "json_typeof(j)"),
    ("json_extract_path",
     "j STRING, k1 STRING, k2 STRING DEFAULT NULL, k3 STRING DEFAULT NULL, "
     "k4 STRING DEFAULT NULL, k5 STRING DEFAULT NULL", "STRING",
     # numeric path elements address arrays ($.a[0]), others objects
     "get_json_object(j, concat('$', concat_ws('', "
     "transform(filter(array(k1, k2, k3, k4, k5), x -> x IS NOT NULL), "
     "k -> IF(k RLIKE '^[0-9]+$', concat('[', k, ']'), "
     "concat('.', k))))))"),
    ("json_extract_path_text",
     "j STRING, k1 STRING, k2 STRING DEFAULT NULL, k3 STRING DEFAULT NULL, "
     "k4 STRING DEFAULT NULL, k5 STRING DEFAULT NULL", "STRING",
     "json_extract_path(j, k1, k2, k3, k4, k5)"),
    ("jsonb_extract_path",
     "j STRING, k1 STRING, k2 STRING DEFAULT NULL, k3 STRING DEFAULT NULL, "
     "k4 STRING DEFAULT NULL, k5 STRING DEFAULT NULL", "STRING",
     "json_extract_path(j, k1, k2, k3, k4, k5)"),
    ("jsonb_extract_path_text",
     "j STRING, k1 STRING, k2 STRING DEFAULT NULL, k3 STRING DEFAULT NULL, "
     "k4 STRING DEFAULT NULL, k5 STRING DEFAULT NULL", "STRING",
     "json_extract_path(j, k1, k2, k3, k4, k5)"),
    ("jsonb_array_length", "j STRING", "INT", "json_array_length(j)"),
    ("jsonb_set",
     "j STRING, path ARRAY<STRING>, v STRING, "
     "create_missing BOOLEAN DEFAULT true", "STRING",
     "pg_jsonb_set(j, path, v, create_missing)"),
    ("jsonb_insert",
     "j STRING, path ARRAY<STRING>, v STRING, "
     "insert_after BOOLEAN DEFAULT false", "STRING",
     "pg_jsonb_insert(j, path, v, insert_after)"),
    ("jsonb_object_keys", "j STRING", "ARRAY<STRING>",
     # deviation: PG returns SETOF text; array form (explode() to unnest)
     "json_object_keys(j)"),
    # -- jsonpath tier: PG jsonpath member/subscript syntax ($.a.b[0])
    #    coincides with Spark's get_json_object paths and stays on that
    #    codegen fast path; filter/predicate expressions (? (@ > 2),
    #    $.a > 2, exists(...), && / ||) route to the Pandas-UDF evaluator
    #    (functions/jsonpath.py) — beyond the reference (its json module
    #    registers zero functions, datafusion-pg-functions/src/
    #    json.rs:13-15). --------------------------------------------------
    #    The pg_jsonpath_plain_* / pg_jsonpath_pred_* variants carry NO
    #    Python UDF in any branch: a Pandas UDF anywhere in a SQL UDF
    #    body blocks parameter inlining, so the generic jsonb_path_*
    #    CASE plans an ArrowEvalPython for every call. The dialect rule
    #    route_jsonpath_literals picks the variant at transpile time
    #    when the path is a literal (every PG-client shape) — those
    #    plans are pure codegen.
    ("pg_jsonpath_plain_first", "j STRING, p STRING", "STRING",
     "get_json_object(j, p)"),
    ("pg_jsonpath_plain_exists", "j STRING, p STRING", "BOOLEAN",
     "CASE WHEN j IS NULL OR p IS NULL THEN NULL "
     "ELSE get_json_object(j, p) IS NOT NULL END"),
    ("pg_jsonpath_plain_match", "j STRING, p STRING", "BOOLEAN",
     "CASE WHEN get_json_object(j, p) = 'true' THEN true "
     "WHEN get_json_object(j, p) = 'false' THEN false ELSE NULL END"),
    ("pg_jsonpath_pred_first", "j STRING, p STRING", "STRING",
     _JP_FAST_FIRST),
    ("pg_jsonpath_pred_exists", "j STRING, p STRING", "BOOLEAN",
     _JP_FAST_EXISTS),
    ("jsonb_path_query_first", "j STRING, p STRING", "STRING",
     f"CASE WHEN {_JSONPATH_SIMPLE_PRED} THEN {_JP_FAST_FIRST} "
     f"WHEN {_JSONPATH_COMPLEX} "
     "THEN pg_jsonpath_filter_first(j, p) "
     "ELSE get_json_object(j, p) END"),
    ("json_path_query_first", "j STRING, p STRING", "STRING",
     "jsonb_path_query_first(j, p)"),
    ("jsonb_path_exists", "j STRING, p STRING", "BOOLEAN",
     "CASE WHEN j IS NULL OR p IS NULL THEN NULL "
     f"WHEN {_JSONPATH_SIMPLE_PRED} THEN {_JP_FAST_EXISTS} "
     f"WHEN {_JSONPATH_COMPLEX} THEN pg_jsonpath_filter_exists(j, p) "
     "ELSE get_json_object(j, p) IS NOT NULL END"),
    ("json_path_exists", "j STRING, p STRING", "BOOLEAN",
     "jsonb_path_exists(j, p)"),
    # all matches as one JSON array — always evaluator-routed (the match
    # LIST has no get_json_object equivalent; not a hot path)
    ("jsonb_path_query_array", "j STRING, p STRING", "STRING",
     "pg_jsonpath_query_array(j, p)"),
    ("json_path_query_array", "j STRING, p STRING", "STRING",
     "pg_jsonpath_query_array(j, p)"),
    ("jsonb_path_match", "j STRING, p STRING", "BOOLEAN",
     # the path must resolve to a JSON boolean (PG raises otherwise;
     # we yield NULL)
     f"CASE WHEN {_JSONPATH_COMPLEX} "
     "THEN pg_jsonpath_filter_match(j, p) "
     "WHEN get_json_object(j, p) = 'true' THEN true "
     "WHEN get_json_object(j, p) = 'false' THEN false ELSE NULL END"),
    # -- basic full-text search: tsvector rides as ARRAY<STRING> of
    #    lexemes (sorted, distinct, stopword-filtered, no positions or
    #    stemming — PG 'simple'-config behavior; functions.md marks the
    #    ts family ❌ for lack of the type). @@/@>/<@/&& operators are
    #    dialect-rewritten onto these. -------------------------------------
    ("pg_array_contains_all", "a ARRAY<STRING>, b ARRAY<STRING>", "BOOLEAN",
     "CASE WHEN a IS NULL OR b IS NULL THEN NULL "
     "ELSE size(array_except(b, a)) = 0 END"),
    ("pg_lexemes", "s STRING", "ARRAY<STRING>",
     "CASE WHEN s IS NULL THEN NULL ELSE filter("
     "split(regexp_replace(lower(s), '[^a-z0-9]+', ' '), ' '), "
     "w -> w <> '' AND NOT array_contains(array("
     "'the','a','an','and','or','of','to','in','is','it','that','for',"
     "'on','with','as'), w)) END"),
    # 'simple' config: lexemes as-is
    ("pg_tsvector", "s STRING", "ARRAY<STRING>",
     "array_sort(array_distinct(pg_lexemes(s)))"),
    # 'english' config: porter-lite stemmed (functions/fts.py; PG's
    # default_text_search_config is pg_catalog.english)
    ("pg_tsvector_en", "s STRING", "ARRAY<STRING>",
     "array_sort(array_distinct("
     + _fts.stemmed_array_sql("pg_lexemes(s)", "transform") + "))"),
    # PG's optional config argument comes FIRST; the single-arg form is
    # the text and uses the 'english' default config.
    ("pg_tsvector_cfg", "cfg STRING, s STRING", "ARRAY<STRING>",
     "CASE WHEN lower(coalesce(cfg, 'english')) LIKE '%simple%' "
     "THEN pg_tsvector(s) ELSE pg_tsvector_en(s) END"),
    ("to_tsvector", "a STRING, b STRING DEFAULT NULL", "ARRAY<STRING>",
     "pg_tsvector_cfg(CASE WHEN b IS NULL THEN NULL ELSE a END, "
     "coalesce(b, a))"),
    ("plainto_tsquery", "a STRING, b STRING DEFAULT NULL", "ARRAY<STRING>",
     "pg_tsvector_cfg(CASE WHEN b IS NULL THEN NULL ELSE a END, "
     "coalesce(b, a))"),
    # tsquery model (round 4): CNF as ARRAY<STRING> — each element is an
    # OR-group of '|'-joined lexemes, '!'-prefix negates a lexeme. A
    # plainto-style plain lexeme array is the degenerate all-singleton
    # CNF, so the two producers share one consumer (ts_match/ts_rank).
    # parameter must not be named `w`: the stem chain's lambdas bind `w`
    ("pg_stem_word", "word_in STRING", "STRING",
     "element_at(" + _fts.stemmed_array_sql(
         "array(regexp_replace(trim(lower(word_in)), '[^a-z0-9]+', ''))",
         "transform") + ", 1)"),
    # Boolean-syntax parser for the no-nesting subset PG queries actually
    # use: conjuncts split on '&', a conjunct is an atom, '!atom', or a
    # parenthesized OR-group '(a | b | !c)'. '<->' (phrase) degrades to
    # '&' — the positionless tsvector cannot check adjacency (documented).
    # Lexing + stemming are inlined textually (a SQL UDF cannot take a
    # lambda var as its argument — same constraint as ts_headline).
    ("pg_tsquery_parse", "cfg STRING, q STRING", "ARRAY<STRING>",
     "CASE WHEN q IS NULL THEN NULL ELSE "
     "filter(transform(split(replace(q, '<->', '&'), '&'), "
     "c -> " + _fts.tsquery_group_sql("transform", "zip_with") + "), "
     "g -> g <> '') END"),
    ("to_tsquery", "a STRING, b STRING DEFAULT NULL", "ARRAY<STRING>",
     "pg_tsquery_parse(CASE WHEN b IS NULL THEN NULL ELSE a END, "
     "coalesce(b, a))"),
    # websearch: '"..."' phrases -> AND of their words, '-x' -> '!x',
    # infix 'or' -> '|', remaining whitespace -> '&' — then the boolean
    # parser above. ('a or b c' -> 'a|b&c' -> CNF [('a'|'b'), 'c'].)
    ("websearch_to_tsquery", "a STRING, b STRING DEFAULT NULL",
     "ARRAY<STRING>",
     "pg_tsquery_parse(CASE WHEN b IS NULL THEN NULL ELSE a END, "
     "regexp_replace(regexp_replace(regexp_replace("
     "replace(coalesce(b, a), '\"', ''), "
     "'(?i)\\\\s+or\\\\s+', '|'), "
     "'(^|\\\\s)-', '$1!'), "
     "'\\\\s+', '&'))"),
    ("phraseto_tsquery", "a STRING, b STRING DEFAULT NULL", "ARRAY<STRING>",
     # phrase adjacency unrepresentable without positions: AND of words
     "pg_tsvector_cfg(CASE WHEN b IS NULL THEN NULL ELSE a END, "
     "coalesce(b, a))"),
    ("ts_match", "vec ARRAY<STRING>, q ARRAY<STRING>", "BOOLEAN",
     # CNF: every group has a satisfied alternative
     "CASE WHEN vec IS NULL OR q IS NULL THEN NULL "
     "ELSE forall(q, grp -> exists(split(grp, '\\\\|'), "
     "a2 -> CASE WHEN startswith(a2, '!') "
     "THEN NOT array_contains(vec, substr(a2, 2)) "
     "ELSE array_contains(vec, a2) END)) END"),
    ("ts_rank", "vec ARRAY<STRING>, q ARRAY<STRING>", "DOUBLE",
     # simplified: satisfied-group fraction (PG weights by frequency/
     # position, which the positionless vector cannot carry); equals the
     # old matched-term fraction on plainto-style plain arrays
     "CASE WHEN vec IS NULL OR q IS NULL OR size(q) = 0 THEN 0.0D "
     "ELSE cast(size(filter(q, grp -> exists(split(grp, '\\\\|'), "
     "a2 -> CASE WHEN startswith(a2, '!') "
     "THEN NOT array_contains(vec, substr(a2, 2)) "
     "ELSE array_contains(vec, a2) END))) AS DOUBLE) / size(q) END"),
    # round 4: the rest of the ts family (all documented against our
    # positionless ARRAY<STRING> tsvector model)
    ("ts_rank_cd", "vec ARRAY<STRING>, q ARRAY<STRING>", "DOUBLE",
     # cover-density degenerates to plain rank without positions
     "ts_rank(vec, q)"),
    ("tsvector_to_array", "vec ARRAY<STRING>", "ARRAY<STRING>", "vec"),
    ("array_to_tsvector", "a ARRAY<STRING>", "ARRAY<STRING>",
     "array_sort(array_distinct(a))"),
    ("strip", "vec ARRAY<STRING>", "ARRAY<STRING>",
     "vec"),  # no positions/weights to strip in this model
    ("setweight", "vec ARRAY<STRING>, w STRING", "ARRAY<STRING>",
     "vec"),  # weights unrepresentable; identity keeps queries runnable
    ("ts_delete", "vec ARRAY<STRING>, lex STRING", "ARRAY<STRING>",
     "array_remove(vec, lex)"),
    ("ts_headline", "doc STRING, q ARRAY<STRING>, opts STRING DEFAULT NULL",
     "STRING",
     # Matched words wrapped in StartSel/StopSel (default <b>/</b>). With
     # an options string, a single MaxWords-long fragment anchored at the
     # first match is returned (PG picks the best cover; we take the
     # first — documented simplification. MinWords is honored implicitly:
     # the fragment is MaxWords long whenever the doc allows, and PG
     # requires MaxWords > MinWords). The stem chain is inlined textually
     # (a SQL UDF cannot take a lambda var as its argument) and zipped
     # against the original spellings.
     _ts_headline_body()),
    ("acldefault", "objtype STRING, owner BIGINT", "ARRAY<STRING>",
     "array(concat(pg_get_userbyid(owner), '=', CASE objtype "
     "WHEN 'r' THEN 'arwdDxtm' WHEN 'c' THEN 'rw' WHEN 'd' THEN 'Tc' "
     "WHEN 'f' THEN 'X' WHEN 'l' THEN 'rw' WHEN 'L' THEN 'U' "
     "WHEN 'n' THEN 'UC' WHEN 's' THEN 'U' WHEN 't' THEN 'U' ELSE '' END, "
     "'/', pg_get_userbyid(owner)))"),
]

# Table-valued SQL UDFs (Spark 4 SQL UDTF): used in FROM position.
SQL_UDTFS: list[tuple[str, str, str, str]] = [
    ("pg_generate_series",
     "start BIGINT, stop BIGINT, step BIGINT DEFAULT 1",
     "TABLE(generate_series BIGINT)",
     "SELECT explode(sequence(start, stop, step))"),
    ("pg_generate_subscripts", "arr ARRAY<STRING>, dim INT DEFAULT 1",
     "TABLE(generate_subscripts INT)",
     "SELECT explode(sequence(1, size(arr)))"),
    ("string_to_table", "s STRING, delim STRING",
     "TABLE(string_to_table STRING)",
     "SELECT explode(CASE WHEN delim IS NULL THEN split(s, '') "
     "WHEN delim = '' THEN array(s) "
     "ELSE split(s, concat('\\\\Q', delim, '\\\\E')) END)"),
    ("regexp_split_to_table", "s STRING, p STRING",
     "TABLE(regexp_split_to_table STRING)",
     "SELECT explode(split(s, p))"),
    # aclitem[] explode: parses 'grantee=privs/grantor' text items (the
    # engine's acl arrays are text); empty grantee = PUBLIC (oid 0)
    ("aclexplode", "acl ARRAY<STRING>",
     "TABLE(grantor BIGINT, grantee BIGINT, privilege_type STRING, "
     "is_grantable BOOLEAN)",
     "SELECT CAST(10 AS BIGINT) AS grantor, "
     "CAST(IF(startswith(s.item, '='), 0, 10) AS BIGINT) AS grantee, "
     "s.priv AS privilege_type, false AS is_grantable FROM "
     "(SELECT explode(flatten(transform(acl, item -> transform("
     "filter(split(split_part(split_part(item, '/', 1), '=', 2), ''), "
     "ch -> ch <> ''), ch -> named_struct('item', item, 'priv', "
     "CASE ch WHEN 'a' THEN 'INSERT' WHEN 'r' THEN 'SELECT' "
     "WHEN 'w' THEN 'UPDATE' WHEN 'd' THEN 'DELETE' "
     "WHEN 'D' THEN 'TRUNCATE' WHEN 'x' THEN 'REFERENCES' "
     "WHEN 't' THEN 'TRIGGER' WHEN 'X' THEN 'EXECUTE' "
     "WHEN 'U' THEN 'USAGE' WHEN 'C' THEN 'CREATE' WHEN 'c' THEN 'CONNECT' "
     "WHEN 'T' THEN 'TEMPORARY' ELSE 'MAINTAIN' END))))) AS s)"),
    # JSON SETOF functions. Note from_json(_, 'array<string>') keeps
    # object/array elements as raw JSON but unquotes string elements, so
    # the *_text variants share the body (documented deviation)
    ("json_array_elements", "j STRING", "TABLE(value STRING)",
     "SELECT explode(from_json(j, 'array<string>'))"),
    ("jsonb_array_elements", "j STRING", "TABLE(value STRING)",
     "SELECT explode(from_json(j, 'array<string>'))"),
    ("json_array_elements_text", "j STRING", "TABLE(value STRING)",
     "SELECT explode(from_json(j, 'array<string>'))"),
    ("jsonb_array_elements_text", "j STRING", "TABLE(value STRING)",
     "SELECT explode(from_json(j, 'array<string>'))"),
    ("json_each", "j STRING", "TABLE(key STRING, value STRING)",
     "SELECT explode(from_json(j, 'map<string,string>'))"),
    ("jsonb_each", "j STRING", "TABLE(key STRING, value STRING)",
     "SELECT explode(from_json(j, 'map<string,string>'))"),
    ("json_each_text", "j STRING", "TABLE(key STRING, value STRING)",
     "SELECT explode(from_json(j, 'map<string,string>'))"),
    ("jsonb_each_text", "j STRING", "TABLE(key STRING, value STRING)",
     "SELECT explode(from_json(j, 'map<string,string>'))"),
    # psql/pg_dump dependency-order helper: the catalog's own FK graph
    # (static — the core row relationships this catalog emulation carries)
    ("pg_get_catalog_foreign_keys", "",
     "TABLE(fktable STRING, fkcols ARRAY<STRING>, pktable STRING, "
     "pkcols ARRAY<STRING>, is_array BOOLEAN, is_opt BOOLEAN)",
     "SELECT * FROM VALUES "
     "('pg_catalog.pg_class', array('relnamespace'), "
     "'pg_catalog.pg_namespace', array('oid'), false, false), "
     "('pg_catalog.pg_attribute', array('attrelid'), "
     "'pg_catalog.pg_class', array('oid'), false, false), "
     "('pg_catalog.pg_index', array('indexrelid'), "
     "'pg_catalog.pg_class', array('oid'), false, false), "
     "('pg_catalog.pg_index', array('indrelid'), "
     "'pg_catalog.pg_class', array('oid'), false, false), "
     "('pg_catalog.pg_constraint', array('conrelid'), "
     "'pg_catalog.pg_class', array('oid'), true, false), "
     "('pg_catalog.pg_proc', array('pronamespace'), "
     "'pg_catalog.pg_namespace', array('oid'), false, false), "
     "('pg_catalog.pg_description', array('classoid'), "
     "'pg_catalog.pg_class', array('oid'), false, false) "
     "AS t(fktable, fkcols, pktable, pkcols, is_array, is_opt)"),
]

def _needs_catalog(body: str) -> bool:
    """SQL UDF bodies that query the pg_catalog views (``pg_catalog_pg_*``
    temp-view names) can only be analyzed after ``bootstrap``. String
    literals like ``'pg_catalog.pg_class'`` (dots) don't count."""
    return "pg_catalog_pg_" in body


# Each step below is done in a session (or a clone of one) when the last
# function it registers exists there: the state lives in the session.
_FUNCTIONS_DONE = "st_geomfromewkb"  # register_geo's last registration
_CATALOG_DONE = [n for n, _a, _r, b in SQL_UDFS if _needs_catalog(b)][-1]


def register_functions(spark: SparkSession) -> None:
    """Register the catalog-FREE function surface (idempotent, cheap).

    This is the driver/bench path: no pg_catalog bootstrap (which costs
    ~20s of view materialization a query-only workload never touches).
    Server sessions use :func:`register_all`, which adds the catalog views
    and the catalog-querying UDFs (to_regclass & friends) on top.
    """
    if spark.catalog.functionExists(_FUNCTIONS_DONE):
        return
    # python-backed UDFs first: SQL UDF bodies that wrap them (normalize,
    # pg_sleep_for/until) are analyzed at CREATE time
    _register_special_math(spark)
    _register_text_py(spark)
    _register_jsonpath_py(spark)
    for name, args, ret, body in SQL_UDFS:
        if _needs_catalog(body):
            continue
        spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
                  f"RETURNS {ret} RETURN {body}")
    for name, args, ret, body in SQL_UDTFS:
        try:
            spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
                      f"RETURNS {ret} RETURN {body}")
        except Exception:
            pass  # SQL UDTF unsupported — explode(sequence()) covers SELECT pos
    from datafusion_postgres_spark.functions.formatting import (
        register_formatting)
    register_formatting(spark)
    from datafusion_postgres_spark.functions.geo import register_geo
    register_geo(spark)


def register_all(spark: SparkSession) -> None:
    """Register every engine function into the session (idempotent).

    Full surface = catalog-free functions + pg_catalog views + the UDFs
    whose bodies query those views (analyzed at CREATE time, so the views
    must exist first)."""
    if spark.catalog.functionExists(_CATALOG_DONE):
        return
    from datafusion_postgres_spark.catalog.pg_catalog import bootstrap
    bootstrap(spark)
    register_functions(spark)
    for name, args, ret, body in SQL_UDFS:
        if _needs_catalog(body):
            spark.sql(f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({args}) "
                      f"RETURNS {ret} RETURN {body}")


def refresh_current_setting(spark: SparkSession, session_vars: dict) -> None:
    """Re-register ``current_setting`` with the SESSION'S live GUC values
    (SQL UDF bodies are constant-folded at plan time, so a SET must rebuild
    the CASE chain — each pg-wire connection has its own clone of the
    server's template session, which scopes the temp function to that
    connection)."""
    extra = {"server_version": "15.0", "server_version_num": "150000",
             "max_index_keys": "32"}
    merged = dict(extra)
    merged.update(session_vars)
    esc = str.maketrans({"'": "''", "\\": "\\\\"})  # as a Spark '...' literal
    arms = " ".join(f"WHEN '{k.lower().translate(esc)}' "
                    f"THEN '{str(v).translate(esc)}'"
                    for k, v in merged.items())
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION current_setting"
        "(name STRING, missing_ok BOOLEAN DEFAULT false) RETURNS STRING "
        f"RETURN CASE lower(name) {arms} ELSE '' END")


def _register_special_math(spark: SparkSession) -> None:
    """erf / erfc / gamma / lgamma — vectorized Pandas UDFs.

    Reference: ``datafusion-pg-functions/src/numeric/special.rs``. No JVM
    builtin exists; Arrow-batched Pandas UDFs keep transfer columnar. NaN/
    pole inputs yield NULL like the reference's error-free math.slt rows.
    """
    import pandas
    from pyspark.sql.functions import pandas_udf

    def _vec(fn):
        def one(v):
            if v is None or (isinstance(v, float) and math.isnan(v)):
                return None
            try:
                return fn(float(v))
            except (ValueError, OverflowError):
                return None

        def apply(s: pandas.Series) -> pandas.Series:
            return s.map(one)

        apply.__annotations__ = {"s": pandas.Series, "return": pandas.Series}
        return apply

    spark.udf.register("erf", pandas_udf(_vec(math.erf), "double"))
    spark.udf.register("erfc", pandas_udf(_vec(math.erfc), "double"))
    spark.udf.register("gamma", pandas_udf(_vec(math.gamma), "double"))
    spark.udf.register("lgamma", pandas_udf(_vec(math.lgamma), "double"))

    # gcd/lcm (functions.md numeric rows): Euclid needs a loop, so no SQL
    # expression form exists — Arrow-batched like the erf family
    def _int2(fn):
        def apply(a, b):
            return pandas.Series([
                None if pandas.isna(x) or pandas.isna(y)
                else fn(int(x), int(y))
                for x, y in zip(a, b)], dtype="object")
        apply.__annotations__ = {"a": pandas.Series, "b": pandas.Series,
                                 "return": pandas.Series}
        return apply

    spark.udf.register("gcd", pandas_udf(_int2(math.gcd), "long"))
    spark.udf.register("lcm", pandas_udf(_int2(math.lcm), "long"))

    # pg_sleep: the one justified row-at-a-time Python UDF (it sleeps).
    import time as _time

    def _pg_sleep(secs):
        if secs is not None:
            _time.sleep(max(0.0, min(float(secs), 3600.0)))
        return None

    spark.udf.register("pg_sleep", _pg_sleep, "string")


def _register_jsonpath_py(spark: SparkSession) -> None:
    """Jsonpath FILTER/predicate evaluation (``? (@ > 2)``,
    ``$.a > 2``) — a runtime-parsed language, so no SQL expression form
    exists; Arrow-batched Pandas UDFs (functions/jsonpath.py). The SQL
    UDFs route here only when the path contains a filter/predicate;
    plain member paths stay on codegen get_json_object."""
    import pandas
    from pyspark.sql.functions import pandas_udf

    from datafusion_postgres_spark.functions import jsonpath as JP

    def _wrap(fn):
        def apply(j, p):
            return pandas.Series(
                [fn(a if a is not None else None,
                    b if b is not None else None)
                 for a, b in zip(j, p)], dtype="object")
        apply.__annotations__ = {"j": pandas.Series, "p": pandas.Series,
                                 "return": pandas.Series}
        return apply

    spark.udf.register("pg_jsonpath_filter_first",
                       pandas_udf(_wrap(JP.query_first), "string"))
    spark.udf.register("pg_jsonpath_filter_exists",
                       pandas_udf(_wrap(JP.exists_any), "boolean"))
    spark.udf.register("pg_jsonpath_filter_match",
                       pandas_udf(_wrap(JP.match_bool), "boolean"))
    spark.udf.register("pg_jsonpath_query_array",
                       pandas_udf(_wrap(JP.query_array), "string"))


_CRC32C_TABLE: list[int] | None = None


def _crc32c_bytes(data: bytes) -> int:
    """CRC-32C (Castagnoli, poly 0x82F63B78, reflected) — the public
    algorithm, table generated at first use."""
    global _CRC32C_TABLE
    if _CRC32C_TABLE is None:
        table = []
        for n in range(256):
            c = n
            for _ in range(8):
                c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
            table.append(c)
        _CRC32C_TABLE = table
    crc = 0xFFFFFFFF
    for byte in data:
        crc = _CRC32C_TABLE[(crc ^ byte) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


def _register_text_py(spark: SparkSession) -> None:
    """Unicode/byte functions with no JVM expression equivalent
    (functions.md P2 rows: normalize / to_ascii / unistr /
    unicode_assigned / crc32c) — vectorized Pandas UDFs, Arrow-batched."""
    import re

    import pandas
    import unicodedata
    from pyspark.sql.functions import pandas_udf

    def _norm(s, form):
        return pandas.Series([
            None if v is None else unicodedata.normalize(
                (f or "NFC").upper(), v)
            for v, f in zip(s, form)])
    _norm.__annotations__ = {"s": pandas.Series, "form": pandas.Series,
                             "return": pandas.Series}

    def _to_ascii(s):
        return s.map(lambda v: None if v is None else "".join(
            ch for ch in unicodedata.normalize("NFKD", v)
            if not unicodedata.combining(ch)).encode(
                "ascii", "replace").decode("ascii"))

    _UNISTR_RE = re.compile(
        r"\\\\|\\u([0-9a-fA-F]{4})|\\\+([0-9a-fA-F]{6})|\\([0-9a-fA-F]{4})")

    def _unistr_one(v):
        if v is None:
            return None

        def sub(m):
            if m.group(0) == "\\\\":
                return "\\"
            code = m.group(1) or m.group(2) or m.group(3)
            return chr(int(code, 16))
        return _UNISTR_RE.sub(sub, v)

    def _unistr(s):
        return s.map(_unistr_one)

    def _assigned(s):
        return s.map(lambda v: None if v is None else all(
            unicodedata.category(ch) != "Cn" for ch in v))

    def _crc32c(b):
        return b.map(lambda v: None if v is None else _crc32c_bytes(bytes(v)))

    import json as _json

    def _strip_nulls_val(v):
        if isinstance(v, dict):
            return {k: _strip_nulls_val(x) for k, x in v.items()
                    if x is not None}
        if isinstance(v, list):
            return [_strip_nulls_val(x) for x in v]
        return v

    def _json_strip_nulls(s):
        def onev(v):
            if v is None:
                return None
            try:
                return _json.dumps(_strip_nulls_val(_json.loads(v)),
                                   separators=(",", ":"))
            except ValueError:
                return None
        return s.map(onev)

    def _jsonb_pretty(s):
        def onev(v):
            if v is None:
                return None
            try:
                return _json.dumps(_json.loads(v), indent=4)
            except ValueError:
                return None
        return s.map(onev)

    def _jsonb_modify(insert_mode):
        """jsonb_set / jsonb_insert: walk the text path into parsed JSON
        (array indices are integer path elements, PG semantics: negative
        counts from the end; set replaces, insert errors on existing
        object keys and splices into arrays)."""
        def one(v, path, newval, create):
            if v is None or path is None or newval is None:
                return None
            try:
                doc = _json.loads(v)
                val = _json.loads(newval)
            except ValueError:
                return None
            target = doc
            path = list(path)
            for p in path[:-1]:
                if isinstance(target, list):
                    target = target[int(p)]
                elif isinstance(target, dict):
                    if p not in target:
                        return _json.dumps(doc, separators=(",", ":"))
                    target = target[p]
                else:
                    return _json.dumps(doc, separators=(",", ":"))
            if not path:
                return _json.dumps(doc, separators=(",", ":"))
            leaf = path[-1]
            if isinstance(target, list):
                idx = int(leaf)
                if insert_mode:
                    # 4th arg = insert_after for jsonb_insert
                    norm = idx if idx >= 0 else len(target) + idx
                    norm = max(0, min(norm, len(target)))
                    target.insert(norm + (1 if create else 0), val)
                elif -len(target) <= idx < len(target):
                    target[idx] = val
                elif create:
                    target.insert(idx if idx >= 0 else 0, val)
            elif isinstance(target, dict):
                if insert_mode and leaf in target:
                    return None  # PG raises; NULL is our error channel
                if leaf in target or create or insert_mode:
                    target[leaf] = val
            return _json.dumps(doc, separators=(",", ":"))

        def apply(s, path, newval, create):
            return pandas.Series([one(v, p, nv, bool(c) if c is not None
                                      else True)
                                  for v, p, nv, c in
                                  zip(s, path, newval, create)])
        return apply

    _PG_RE_FLAGS = {"i": re.IGNORECASE, "n": re.DOTALL, "s": re.DOTALL,
                    "m": re.MULTILINE, "x": re.VERBOSE}

    def _regexp_matches_one(v, pat, flags):
        if v is None or pat is None:
            return None
        fl = 0
        for ch in (flags or ""):
            fl |= _PG_RE_FLAGS.get(ch, 0)
        try:
            rx = re.compile(pat, fl)
        except re.error:
            return None
        if "g" in (flags or ""):
            # PG returns SETOF rows; in this scalar surface 'g' yields the
            # flattened matches (group 1 when groups exist, else full match)
            out = [m.group(1) if rx.groups else m.group(0)
                   for m in rx.finditer(v)]
            return out or None
        m = rx.search(v)
        if m is None:
            return None
        return list(m.groups()) if rx.groups else [m.group(0)]

    def _regexp_matches(s, pat, flags):
        return pandas.Series([_regexp_matches_one(v, p, f)
                              for v, p, f in zip(s, pat, flags)])

    for fn, name, ret in ((_norm, "pg_normalize", "string"),
                          (_to_ascii, "to_ascii", "string"),
                          (_unistr, "unistr", "string"),
                          (_assigned, "unicode_assigned", "boolean"),
                          (_crc32c, "crc32c", "long"),
                          (_json_strip_nulls, "json_strip_nulls", "string"),
                          (_json_strip_nulls, "jsonb_strip_nulls", "string"),
                          (_jsonb_pretty, "jsonb_pretty", "string"),
                          (_jsonb_modify(False), "pg_jsonb_set", "string"),
                          (_jsonb_modify(True), "pg_jsonb_insert", "string"),
                          (_regexp_matches, "pg_regexp_matches",
                           "array<string>")):
        if not fn.__annotations__:
            import inspect
            fn.__annotations__ = {
                p: pandas.Series
                for p in inspect.signature(fn).parameters}
            fn.__annotations__["return"] = pandas.Series
        spark.udf.register(name, pandas_udf(fn, ret))
