"""Local replica of the driver's correctness gate: run every registered
query on Spark AND its oracle on DuckDB, compare row count, schema, and
order-insensitive values.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import traceback

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def duck_connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for name in TABLES:
        p = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    return con


_TYPE_EQUIV = {
    "bigint": {"int64"}, "int": {"int32"}, "smallint": {"int16"},
    "double": {"double"}, "float": {"float"}, "string": {"string",
                                                         "large_string"},
    "boolean": {"bool"}, "date": {"date32[day]"},
    "binary": {"binary", "large_binary"},
}


def _types_compatible(spark_type: str, duck_arrow_type) -> bool:
    s = spark_type.lower()
    d = str(duck_arrow_type)
    if s.startswith("decimal") and d.startswith("decimal"):
        return s.replace("decimal(", "").rstrip(")") == \
            d.replace("decimal128(", "").replace("decimal256(", "").rstrip(")").replace(" ", "")
    if s.startswith("array") or d.startswith(("list", "large_list")):
        return s.startswith("array") and d.startswith(("list", "large_list"))
    if "timestamp" in s or "timestamp" in d:
        return "timestamp" in s and "timestamp" in d
    return d in _TYPE_EQUIV.get(s, {d})  # unknown pairs pass


def normalize(rows):
    """REPR-STRICT comparison — stricter than any plausible driver hash.

    Every cell becomes its repr string, so the comparison catches what
    plain ``==`` cannot:
      * -0.0 vs 0.0 (equal floats, different reprs — the actual round-1
        pg_math_functions failure),
      * Decimal('1.20') vs 1.2 (equal values, different renderings — the
        round-1 trailing-zero decimal failures),
      * float-vs-ulp differences (different bits -> different repr).
    """
    def norm_val(v):
        if isinstance(v, (list, tuple)):
            return "[" + ",".join(norm_val(x) for x in v) + "]"
        if v is None:
            return "<NULL>"
        return repr(v)
    return sorted(tuple(norm_val(v) for v in row) for row in rows)


def compare_to_oracle(sdf, srows, con, oracle_sql: str) -> str | None:
    """Compare a query's Spark result with its DuckDB oracle: column
    names, compatible column types, row count and repr-strict values
    (order-insensitive). ``srows`` is ``sdf`` collected as tuples.
    Returns None when they agree, else a one-line failure message."""
    try:
        dres = con.execute(oracle_sql)
        dcols = [d[0] for d in dres.description]
        drows = dres.fetchall()
    except Exception as e:
        return f"DUCK ERROR: {e}"
    scols = sdf.columns
    if sorted(scols) != sorted(dcols):
        return f"COLS: spark={scols} duck={dcols}"
    # schema check: compare arrow type classes
    try:
        duck_types = {f.name: f.type for f in
                      con.execute(oracle_sql).arrow().schema}
    except Exception:
        duck_types = {}
    spark_types = {f.name: f.dataType.simpleString()
                   for f in sdf.schema.fields}
    for cname, dtype in duck_types.items():
        stype = spark_types.get(cname, "?")
        if not _types_compatible(stype, dtype):
            return f"TYPE {cname}: spark={stype} duck={dtype}"
    # reorder duck columns to spark order
    order = [dcols.index(c) for c in scols]
    drows = [tuple(r[i] for i in order) for r in drows]
    if len(srows) != len(drows):
        return f"ROWCOUNT: spark={len(srows)} duck={len(drows)}"
    sn, dn = normalize(srows), normalize(drows)
    if sn != dn:
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        return f"VALUES differ, first diffs: {diff}"
    return None


def main():
    from datafusion_postgres_spark.session import build_spark
    from datafusion_postgres_spark.queries import PRIORITY, load_all
    from datafusion_postgres_spark.functions import register_functions

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = set(sys.argv[2:])

    spark = build_spark(master="local[8]")
    register_functions(spark)  # driver-path parity: no catalog bootstrap
    reg = load_all()
    con = duck_connect(sf_dir)

    passed, failed, rows_only = [], [], []
    for name, spec in sorted(reg.items()):
        if only and name not in only:
            continue
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = [tuple(r) for r in sdf.collect()]
        except Exception as e:
            failed.append((name, f"SPARK ERROR: {e}"))
            traceback.print_exc()
            continue
        # driver-window queries must not emit Decimal/raw-timestamp columns
        # (representation-sensitive under the driver's value hash) nor
        # array/struct/map columns (the driver's pandas canonicalizer
        # cannot sort list cells — round-2 agg_collect_ordered failure)
        if name in PRIORITY:
            bad = [f"{f.name}:{f.dataType.simpleString()}"
                   for f in sdf.schema.fields
                   if f.dataType.simpleString().startswith(
                       ("decimal", "timestamp", "array", "struct", "map"))]
            if bad:
                failed.append((name, f"UNSAFE OUTPUT TYPES in window: {bad}"))
                continue
        if spec.oracle is None:
            rows_only.append((name, len(srows)))
            continue
        err = compare_to_oracle(sdf, srows, con, spec.oracle)
        if err:
            failed.append((name, err))
            continue
        passed.append((name, len(srows)))

    print("\n=== PASSED ===")
    for name, n in passed:
        print(f"  {name}: {n} rows")
    print("=== ROWS-ONLY (no oracle) ===")
    for name, n in rows_only:
        print(f"  {name}: {n} rows")
    print("=== FAILED ===")
    for name, msg in failed:
        print(f"  {name}: {msg[:400]}")
    print(f"\n{len(passed)} passed, {len(rows_only)} rows-only, "
          f"{len(failed)} failed")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
