"""File → table registration ("SimpleHTTPServer for data files").

Reference parity: ``datafusion-postgres-cli/src/main.rs:62-221`` — registers
CSV/JSON/Arrow/Parquet/Avro files as tables, or a whole directory mapped by
file extension.

Spark-first notes:
  * CSV/JSON use schema inference exactly like the reference's default read
    options (``main.rs:134,144``).
  * Arrow IPC has no native Spark reader — we go pyarrow → createDataFrame
    (Arrow-accelerated, so this is a zero-copy-ish batch path, fine for the
    catalog-sized files it serves).
  * Avro needs the spark-avro package; gated behind a runtime check.
  * At 100 TB scale the parquet path is the hot one: ``spark.read.parquet``
    keeps partition pruning + predicate pushdown + column pruning intact.
"""

from __future__ import annotations

import os
from weakref import WeakKeyDictionary

from pyspark.sql import DataFrame, SparkSession

EXTENSION_FORMATS = {
    ".csv": "csv",
    ".json": "json",
    ".ndjson": "json",
    ".parquet": "parquet",
    ".arrow": "arrow",
    ".feather": "arrow",
    ".avro": "avro",
}


def read_file(spark: SparkSession, path: str, fmt: str | None = None,
              **options) -> DataFrame:
    fmt = (fmt or EXTENSION_FORMATS.get(os.path.splitext(path)[1], "")).lower()
    if fmt == "csv":
        return (spark.read.option("header", True).option("inferSchema", True)
                .options(**options).csv(path))
    if fmt == "json":
        return spark.read.options(**options).json(path)
    if fmt == "parquet":
        return spark.read.options(**options).parquet(path)
    if fmt == "arrow":
        return _read_arrow_ipc(spark, path)
    if fmt == "avro":
        try:
            # at-scale path: the spark-avro DataSource splits blocks
            # across executors (needs the jar on the classpath)
            return spark.read.format("avro").options(**options).load(path)
        except Exception:
            # dependency-free fallback: pure-Python container-file reader
            # (driver-side materialization — fine for register-a-file use)
            from datafusion_postgres_spark.sources.avro_reader import read_avro
            _schema, rows = read_avro(path)
            if not rows:
                raise ValueError(f"{path}: empty avro file needs spark-avro "
                                 "for schema-only reads")
            return spark.createDataFrame(rows)
    raise ValueError(f"unsupported format for {path!r}: {fmt!r}")


def _read_arrow_ipc(spark: SparkSession, path: str) -> DataFrame:
    import pyarrow as pa
    import pyarrow.ipc

    try:
        with pa.ipc.open_file(path) as reader:
            table = reader.read_all()
    except pa.ArrowInvalid:
        with open(path, "rb") as f, pa.ipc.open_stream(f) as reader:
            table = reader.read_all()
    # Arrow-NATIVE createDataFrame (Spark 4 accepts pa.Table directly):
    # batches ship via Arrow IPC with no pandas materialization — halves
    # the driver-memory footprint of the old to_pandas() round-trip.
    # Still a driver-side read (documented: serves catalog-size .arrow
    # files; a TB-scale Arrow dataset belongs in parquet).
    try:
        return spark.createDataFrame(table)
    except TypeError:  # older Spark: pandas fallback
        return spark.createDataFrame(table.to_pandas())


def register_directory(spark: SparkSession, path: str) -> list[str]:
    """Map every recognized file in a directory to a table named after its
    stem (``main.rs:62-124`` analog)."""
    registered = []
    for fname in sorted(os.listdir(path)):
        stem, ext = os.path.splitext(fname)
        if ext in EXTENSION_FORMATS:
            df = read_file(spark, os.path.join(path, fname))
            df.createOrReplaceTempView(stem)
            registered.append(stem)
    return registered


TESTDATA_TABLES = ("region", "nation", "customer", "supplier", "part",
                   "orders", "lineitem", "events", "documents", "embeddings")


# (session → {(path, mtime_ns, size) → DataFrame}) plan memo for
# read_table. A DataFrame is an immutable LAZY plan — no rows are
# cached — but building one costs a file listing + parquet footer
# schema read + several py4j round-trips per call, paid by every query
# construction. The key carries the file's identity (mtime + size), so
# a regenerated testdata file gets a fresh plan; the weak session key
# lets stopped sessions drop their plans.
_TABLE_MEMO: "WeakKeyDictionary[SparkSession, dict]" = WeakKeyDictionary()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table, normalizing types Spark can't read natively:
    events.ts is timestamp[ns] parquet → read as int64 (nanosAsLong) and
    converted to a microsecond TIMESTAMP_NTZ (matches DuckDB's
    CAST(ts AS TIMESTAMP) truncation). Plans are memoized per
    (session, file identity) — see _TABLE_MEMO."""
    from pyspark.sql import functions as F

    path = os.path.join(sf_dir, f"{name}.parquet")
    key = None
    try:
        st = os.stat(path)
        key = (os.path.abspath(path), st.st_mtime_ns, st.st_size)
        memo = _TABLE_MEMO.setdefault(spark, {})
        df = memo.get(key)
        if df is not None:
            return df
    except (OSError, TypeError):
        memo = None

    df = spark.read.parquet(path)
    if name == "events" and dict(df.dtypes).get("ts") == "bigint":
        df = df.withColumn(
            "ts", F.to_timestamp_ntz(F.timestamp_micros(F.expr("ts div 1000"))))
    if key is not None and memo is not None:
        memo[key] = df
    return df


def register_testdata(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load the driver's TPC-H-ish star schema + pipeline tables as temp
    views and return them keyed by name."""
    out = {}
    for name in TESTDATA_TABLES:
        if os.path.exists(os.path.join(sf_dir, f"{name}.parquet")):
            df = read_table(spark, sf_dir, name)
            df.createOrReplaceTempView(name)
            out[name] = df
    return out
