"""Minimal PostGIS-compatible geometry tier (points), Spark-first.

The reference feature-gates geo support and its surface is wire encoding:
GeoArrow columns → PostGIS EWKB (``arrow-pg/src/geo_encoder.rs:47-117``).
This analog keeps the same honest scope — 2-D points computed on as plain
``STRUCT<x: DOUBLE, y: DOUBLE>`` columns (full codegen: distance math
never leaves the JVM), with EWKB bytes only at the interchange boundary
(Arrow-batched Pandas UDFs, the sanctioned byte-packing path; the binary
travels over the existing bytea wire encoding).

SRID handling: ``st_setsrid`` is carried only into the EWKB bytes (the
0x20000000 flag + int32), matching the reference which also does no CRS
math — ``st_distance`` is planar, ``st_distancesphere`` is WGS84
haversine on lon/lat degrees (mean radius 6371008.8 m).
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import SparkSession

_PT = "STRUCT<x: DOUBLE, y: DOUBLE>"
_DIST = "sqrt((a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y))"
_WKT_NUM = r"([-+0-9.eE]+)"

GEO_SQL_UDFS: list[tuple[str, str, str, str]] = [
    ("st_makepoint", "x DOUBLE, y DOUBLE", _PT, "named_struct('x', x, 'y', y)"),
    ("st_point", "x DOUBLE, y DOUBLE", _PT, "named_struct('x', x, 'y', y)"),
    ("st_x", f"g {_PT}", "DOUBLE", "g.x"),
    ("st_y", f"g {_PT}", "DOUBLE", "g.y"),
    ("st_distance", f"a {_PT}, b {_PT}", "DOUBLE", _DIST),
    ("st_dwithin", f"a {_PT}, b {_PT}, d DOUBLE", "BOOLEAN", f"{_DIST} <= d"),
    # WGS84 haversine; coordinates are (lon, lat) degrees like PostGIS
    ("st_distancesphere", f"a {_PT}, b {_PT}", "DOUBLE",
     "2.0 * 6371008.8 * asin(least(1.0, sqrt("
     "pow(sin(radians(b.y - a.y) / 2), 2) + "
     "cos(radians(a.y)) * cos(radians(b.y)) * "
     "pow(sin(radians(b.x - a.x) / 2), 2))))"),
    ("st_astext", f"g {_PT}", "STRING",
     "CASE WHEN g IS NULL THEN NULL ELSE concat('POINT(', "
     "CAST(g.x AS STRING), ' ', CAST(g.y AS STRING), ')') END"),
    # try_cast, not CAST: ConstantFolding evaluates constant subtrees of
    # the dead branch too, and regexp_extract's '' on a non-POINT literal
    # would fail the fold
    ("st_geomfromtext", "wkt STRING", _PT,
     "CASE WHEN upper(trim(wkt)) RLIKE '^POINT\\\\s*\\\\(' THEN "
     f"named_struct('x', try_cast(regexp_extract(upper(trim(wkt)), 'POINT\\\\s*\\\\(\\\\s*{_WKT_NUM}', 1) AS DOUBLE), "
     f"'y', try_cast(regexp_extract(upper(trim(wkt)), 'POINT\\\\s*\\\\(\\\\s*{_WKT_NUM}\\\\s+{_WKT_NUM}', 2) AS DOUBLE)) "
     "END"),
]
# NOT registered (Spark 4.1 built-ins, flag-gated behind
# spark.sql.geospatial.enabled, operate on the native GEOMETRY type):
# st_asbinary, st_geogfromwkb, st_geomfromwkb, st_setsrid, st_srid.
# A SQL UDF cannot shadow them; SRID in this struct-point tier is a
# wire-level concept carried only by st_asewkb's srid argument.


def _ewkb_point(x, y, srid) -> bytes | None:
    if x is None or y is None:
        return None
    if srid:
        return (b"\x01" + struct.pack("<I", 0x20000001) +
                struct.pack("<i", int(srid)) + struct.pack("<dd", x, y))
    return b"\x01" + struct.pack("<I", 1) + struct.pack("<dd", x, y)


def _parse_ewkb_point(raw) -> tuple[float, float] | None:
    if raw is None or len(raw) < 21:
        return None
    endian = "<" if raw[0] == 1 else ">"
    (gtype,) = struct.unpack_from(f"{endian}I", raw, 1)
    pos = 5
    if gtype & 0x20000000:
        pos += 4
    if gtype & 0x0FFFFFFF != 1:  # only Point decode supported
        return None
    x, y = struct.unpack_from(f"{endian}dd", raw, pos)
    return (x, y)


def register_geo(spark: SparkSession) -> None:
    """The EWKB byte-packing Pandas UDFs. The SQL-UDF point surface
    (:data:`GEO_SQL_UDFS`) is created with the other SQL UDFs
    (functions/registry.py)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("binary")
    def st_asewkb(g: pd.Series, srid: pd.Series) -> pd.Series:
        # struct columns arrive as a pd.DataFrame despite the Series hint
        # (pyspark's signature inference rejects DataFrame annotations)
        return pd.Series(
            [_ewkb_point(x, y, s)
             for x, y, s in zip(g["x"], g["y"], srid)], dtype=object)

    @pandas_udf(_PT.lower())
    def st_geomfromewkb(raw: pd.Series) -> pd.DataFrame:
        pts = [_parse_ewkb_point(r) for r in raw]
        return pd.DataFrame(
            {"x": [p[0] if p else None for p in pts],
             "y": [p[1] if p else None for p in pts]})

    spark.udf.register("st_asewkb", st_asewkb)
    spark.udf.register("st_geomfromewkb", st_geomfromewkb)
