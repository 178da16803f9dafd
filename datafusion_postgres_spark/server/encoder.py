"""Spark schema/value → Postgres wire-format encoding.

Reference parity: the ``arrow-pg`` crate — type mapping
(``arrow-pg/src/datatypes.rs:23-125`` ``into_pg_type``), text-format value
encoding (``arrow-pg/src/encoder.rs:259-493``), list/struct encoding
(``list_encoder.rs``, ``struct_encoder.rs``), row encoding
(``row_encoder.rs:24-40``). Implements the text format (what psql uses)
and the binary format (result columns a Bind asks for in binary, COPY
binary), plus the binary decoders for Bind parameters and COPY FROM.

Spark-first: a Spark result reaches the driver as Arrow record batches,
one partition at a time (``session.arrow_batches``), and the wire writer
encodes it a chunk of rows at a time, one column at a time:
:func:`column_encoder` picks each column's encoder once per result, with
fast paths for ints, text, floats, timestamps, dates, booleans and the
binary fixed-width types, and falls back to the per-value
:func:`encode_value` / :func:`encode_value_binary` for the rest (numeric,
intervals, arrays, structs, maps, bytea). Driver-held rows (hook answers)
take the same path.
"""

from __future__ import annotations

import functools
import math
import struct
from dataclasses import dataclass
from datetime import date, datetime, time, timedelta
from decimal import Decimal

from pyspark.sql import types as T

# Spark type -> (pg type oid, pg type name). Array OIDs via _ARRAY_OIDS.
_SCALAR_OIDS = {
    T.NullType: (705, "unknown"),
    T.BooleanType: (16, "bool"),
    T.ByteType: (21, "int2"),
    T.ShortType: (21, "int2"),
    T.IntegerType: (23, "int4"),
    T.LongType: (20, "int8"),
    T.FloatType: (700, "float4"),
    T.DoubleType: (701, "float8"),
    T.StringType: (25, "text"),
    T.VarcharType: (1043, "varchar"),
    T.CharType: (1042, "bpchar"),
    T.BinaryType: (17, "bytea"),
    T.DateType: (1082, "date"),
    T.TimestampType: (1184, "timestamptz"),
    T.TimestampNTZType: (1114, "timestamp"),
    T.DayTimeIntervalType: (1186, "interval"),
    T.YearMonthIntervalType: (1186, "interval"),
}
if hasattr(T, "TimeType"):  # Spark 4.1+ TIME type
    _SCALAR_OIDS[T.TimeType] = (1083, "time")

_ARRAY_OIDS = {16: 1000, 21: 1005, 23: 1007, 20: 1016, 700: 1021, 701: 1022,
               25: 1009, 1043: 1015, 1042: 1014, 17: 1001, 1082: 1182,
               1184: 1185, 1114: 1115, 1700: 1231, 2249: 2287, 1186: 1187,
               1083: 1183}


@dataclass
class PgField:
    name: str
    type_oid: int
    type_name: str
    typlen: int = -1
    typmod: int = -1


def field_to_pg(field: T.StructField) -> PgField:
    """StructField → PG field descriptor. Honors the ``pg.oid_alias``
    metadata trick (oid_field.rs:1-12 / datatypes.rs:137-162): an int
    column tagged as regclass/regtype/... reports the alias OID."""
    alias = (field.metadata or {}).get("pg.oid_alias")
    if alias:
        alias_oids = {"oid": 26, "regclass": 2205, "regtype": 2206,
                      "regproc": 24, "regnamespace": 4089, "regrole": 4096}
        if alias in alias_oids:
            return PgField(field.name, alias_oids[alias], alias, 4)
    return PgField(field.name, *_type_to_oid(field.dataType))


def _type_to_oid(dt: T.DataType) -> tuple[int, str]:
    if isinstance(dt, T.DecimalType):
        return (1700, "numeric")
    if isinstance(dt, T.ArrayType):
        # nested arrays map to PG MULTIdimensional arrays: int[][] is
        # still OID 1007 (_int4) — the array OID follows the LEAF type
        leaf_oid, _ = _type_to_oid(_leaf_elem_type(dt))
        return (_ARRAY_OIDS.get(leaf_oid, 1009), "array")
    if isinstance(dt, T.StructType):
        return (2249, "record")
    if isinstance(dt, T.MapType):
        return (114, "json")  # closest textual representation
    for cls, (oid, name) in _SCALAR_OIDS.items():
        if isinstance(dt, cls):
            return (oid, name)
    return (25, "text")


def _leaf_elem_type(dt: T.DataType) -> T.DataType:
    while isinstance(dt, T.ArrayType):
        dt = dt.elementType
    return dt


def schema_to_pg_fields(schema: T.StructType) -> list[PgField]:
    return [field_to_pg(f) for f in schema.fields]


# ---------------------------------------------------------------------------
# text-format value encoding (encoder.rs:259-493)

def encode_value(v, dt: T.DataType, extra_float_digits: int = 1) -> str | None:
    """One value → PG text format; None stays None (wire NULL)."""
    if v is None:
        return None
    if isinstance(dt, T.BooleanType):
        return "t" if v else "f"
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return _encode_float(v, extra_float_digits)
    if isinstance(dt, T.DecimalType):
        return _strip_exponent(v)
    if isinstance(dt, T.BinaryType):
        return "\\x" + bytes(v).hex()
    if isinstance(dt, T.DateType):
        return v.isoformat() if isinstance(v, date) else str(v)
    if isinstance(v, time):
        return v.isoformat()
    if isinstance(dt, T.TimestampNTZType):
        return _encode_timestamp(v, tz_suffix=False)
    if isinstance(dt, T.TimestampType):
        return _encode_timestamp(v, tz_suffix=True)
    if isinstance(dt, T.DayTimeIntervalType):
        return _encode_interval(v)
    if isinstance(dt, T.ArrayType):
        return _encode_array(v, dt.elementType, extra_float_digits)
    if isinstance(dt, T.StructType):
        return _encode_struct(v, dt, extra_float_digits)
    if isinstance(dt, T.MapType):
        import json
        return json.dumps(dict(v), default=str, separators=(",", ":"))
    return str(v)


def _encode_float(v: float, extra_float_digits: int) -> str:
    if math.isnan(v):
        return "NaN"
    if math.isinf(v):
        return "Infinity" if v > 0 else "-Infinity"
    if extra_float_digits >= 1:
        s = repr(float(v))  # shortest round-trip, PG extra_float_digits>=1
        return s
    return f"{v:.15g}"


def _strip_exponent(v: Decimal) -> str:
    s = str(v)
    if "E" in s or "e" in s:
        s = format(v, "f")
    return s


def _encode_timestamp(v: datetime, tz_suffix: bool) -> str:
    """A naive timestamp; a TIMESTAMP value is the UTC instant, hence the
    ``+00``. The year is zero-padded to four digits, as PG prints it."""
    base = v.isoformat(" ")
    if v.microsecond:
        base = base.rstrip("0")
    return base + "+00" if tz_suffix else base


def _encode_interval(v: timedelta) -> str:
    """PG 'postgres' IntervalStyle: '1 day 02:03:04.5', negative parts kept.

    Computed from the SIGNED total microseconds — timedelta normalization
    stores a negative interval as (negative days, positive secs/us), so
    deriving parts from .seconds/.microseconds directly is off by one
    second for negative sub-second intervals (-0.5s would print as
    -00:00:01.5)."""
    total_us = v // timedelta(microseconds=1)
    sign = "-" if total_us < 0 else ""
    total_us = abs(total_us)
    days, rem = divmod(total_us, 86_400_000_000)
    hours, rem = divmod(rem, 3_600_000_000)
    minutes, rem = divmod(rem, 60_000_000)
    secs, micros = divmod(rem, 1_000_000)
    parts = []
    if days:
        parts.append(f"{sign}{days} day" + ("s" if days != 1 else ""))
    time_part = f"{sign}{hours:02d}:{minutes:02d}:{secs:02d}"
    if micros:
        time_part += f".{micros:06d}".rstrip("0")
    if time_part not in ("00:00:00", "-00:00:00") or not parts:
        parts.append(time_part)
    return " ".join(parts)


# array_out quotes an element holding one of these (array_isspace's
# whitespace included)
_ARRAY_QUOTE_CHARS = frozenset('{},"\\ \t\n\r\v\f')


def _encode_array(vals, elem_dt: T.DataType, efd: int) -> str:
    """PG ``array_out``: an element's text is double-quoted (``"`` and
    ``\\`` escaped) when it is empty, reads ``NULL`` in any case, or holds
    a brace, comma, quote, backslash or whitespace, whatever its type (a
    timestamp or interval has a space). A nested array is a further
    dimension and is never quoted."""
    quote = not isinstance(elem_dt, T.ArrayType)
    out = []
    for v in vals:
        if v is None:
            out.append("NULL")
            continue
        s = encode_value(v, elem_dt, efd)
        if quote and (s == "" or s.upper() == "NULL" or
                      any(c in _ARRAY_QUOTE_CHARS for c in s)):
            s = '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
        out.append(s)
    return "{" + ",".join(out) + "}"


def _encode_struct(row, dt: T.StructType, efd: int) -> str:
    """Composite text format: (a,b,...) with quoting (struct_encoder.rs)."""
    out = []
    for field, v in zip(dt.fields, row):
        if v is None:
            out.append("")
            continue
        s = encode_value(v, field.dataType, efd)
        if s == "" or any(c in '(),"\\ ' for c in s):
            s = '"' + s.replace("\\", "\\\\").replace('"', '\\"') + '"'
        out.append(s)
    return "(" + ",".join(out) + ")"


# ---------------------------------------------------------------------------
# binary-format value encoding (encoder.rs binary paths; PG epoch = 2000-01-01)

_PG_EPOCH_DATE = date(2000, 1, 1)
_PG_EPOCH_TS = datetime(2000, 1, 1)


def encode_value_binary(v, dt: T.DataType) -> bytes | None:
    """One value → PG binary wire format.

    Covers the fixed-width scalars, text/bytea, numeric, date/time/
    timestamp, interval, 1-D arrays, and composites — the same surface the
    reference encodes (``arrow-pg/src/encoder.rs:259-493``,
    ``list_encoder.rs:102+``, ``struct_encoder.rs:74-161``). Callers fall
    back to text format for anything :func:`supports_binary` rejects."""
    if v is None:
        return None
    if isinstance(dt, T.BooleanType):
        return b"\x01" if v else b"\x00"
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return struct.pack("!h", int(v))
    if isinstance(dt, T.IntegerType):
        return struct.pack("!i", int(v))
    if isinstance(dt, T.LongType):
        return struct.pack("!q", int(v))
    if isinstance(dt, T.FloatType):
        return struct.pack("!f", float(v))
    if isinstance(dt, T.DoubleType):
        return struct.pack("!d", float(v))
    if isinstance(dt, T.DecimalType):
        return _encode_numeric_binary(
            v if isinstance(v, Decimal) else Decimal(str(v)))
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return str(v).encode()
    if isinstance(dt, T.BinaryType):
        return bytes(v)
    if isinstance(dt, T.DateType):
        return struct.pack("!i", (v - _PG_EPOCH_DATE).days)
    if hasattr(T, "TimeType") and isinstance(dt, T.TimeType):
        micros = (v.hour * 3_600_000_000 + v.minute * 60_000_000 +
                  v.second * 1_000_000 + v.microsecond)
        return struct.pack("!q", micros)
    if isinstance(dt, (T.TimestampNTZType, T.TimestampType)):
        naive = v.replace(tzinfo=None) if v.tzinfo else v
        delta = naive - _PG_EPOCH_TS
        micros = (delta.days * 86_400_000_000 + delta.seconds * 1_000_000 +
                  delta.microseconds)
        return struct.pack("!q", micros)
    if isinstance(dt, T.DayTimeIntervalType):
        # interval_send layout: time-part micros (int64), days (int32),
        # months (int32); days truncated toward zero so -1.5 days encodes
        # as (days=-1, micros=-12h) like PG
        total_us = v // timedelta(microseconds=1)
        # integer truncation toward zero: float division loses precision
        # above ~2^53 µs and can shift a day into the micros field
        sign = -1 if total_us < 0 else 1
        days = sign * (abs(total_us) // 86_400_000_000)
        micros = total_us - days * 86_400_000_000
        return struct.pack("!qii", micros, days, 0)
    if isinstance(dt, T.YearMonthIntervalType):
        months = int(v) if isinstance(v, int) else \
            getattr(v, "years", 0) * 12 + getattr(v, "months", 0)
        return struct.pack("!qii", 0, 0, months)
    if isinstance(dt, T.ArrayType):
        return _encode_array_binary(v, dt.elementType)
    if isinstance(dt, T.StructType):
        return _encode_struct_binary(v, dt)
    raise NotImplementedError(
        f"binary format not implemented for {dt.simpleString()}; "
        "use text format")


def _encode_numeric_binary(v: Decimal) -> bytes:
    """numeric_send: (ndigits, weight, sign, dscale) + base-10000 digits."""
    if v.is_nan():
        return struct.pack("!HhHH", 0, 0, 0xC000, 0)
    if v.is_infinite():
        return struct.pack("!HhHH", 0, 0,
                           0xF000 if v.is_signed() else 0xD000, 0)
    sign = 0x4000 if v.is_signed() else 0x0000
    # copy_abs(): context-FREE absolute value — abs() is an arithmetic op
    # that silently rounds >28-digit values under the default context
    t = v.copy_abs().as_tuple()
    if t.exponent >= 0:
        digits = list(t.digits) + [0] * t.exponent
        dscale = 0
        frac_digits: list[int] = []
        int_digits = digits
    else:
        dscale = -t.exponent
        digits = list(t.digits)
        if len(digits) <= dscale:  # |v| < 1
            int_digits = []
            frac_digits = [0] * (dscale - len(digits)) + digits
        else:
            int_digits = digits[:-dscale]
            frac_digits = digits[-dscale:]
    int_str = "".join(map(str, int_digits))
    int_str = "0" * ((-len(int_str)) % 4) + int_str
    frac_str = "".join(map(str, frac_digits))
    frac_str = frac_str + "0" * ((-len(frac_str)) % 4)
    groups = [int(int_str[i:i + 4]) for i in range(0, len(int_str), 4)]
    weight = len(groups) - 1
    groups += [int(frac_str[i:i + 4]) for i in range(0, len(frac_str), 4)]
    while groups and groups[0] == 0:  # strip leading zero groups
        groups.pop(0)
        weight -= 1
    while groups and groups[-1] == 0:  # trailing zeros implied by dscale
        groups.pop()
    if not groups:
        weight = 0
    return struct.pack("!HhHH", len(groups), weight, sign, dscale) + \
        b"".join(struct.pack("!H", g) for g in groups)


def _encode_array_binary(vals, elem_dt: T.DataType) -> bytes:
    """array_send: ndim, hasnull flag, element oid, per-dim (dim, lbound),
    then length-prefixed binary elements (-1 length = NULL).

    Nested Spark arrays encode as PG MULTIdimensional arrays (the
    reference covers this via ``arrow-pg/src/list_encoder.rs:102+``): the
    element OID is the LEAF type's, dims list every nesting level, and
    elements are the flattened leaves in row-major order. PG requires
    rectangular multidim arrays and non-NULL sub-arrays — ragged data
    raises (PG itself cannot represent it)."""
    vals = list(vals)
    dims = [len(vals)]
    flat = vals
    leaf_dt = elem_dt
    while isinstance(leaf_dt, T.ArrayType):
        if any(x is None for x in flat):
            raise NotImplementedError(
                "NULL sub-array cannot encode as a PG multidimensional "
                "array; use text format")
        lens = {len(x) for x in flat}
        if len(lens) > 1:
            raise NotImplementedError(
                "ragged nested array cannot encode as a PG rectangular "
                "multidimensional array; use text format")
        dims.append(lens.pop() if lens else 0)
        flat = [e for x in flat for e in x]
        leaf_dt = leaf_dt.elementType
    leaf_oid, _ = _type_to_oid(leaf_dt)
    if not flat:
        return struct.pack("!iii", 0, 0, leaf_oid)
    hasnull = 1 if any(x is None for x in flat) else 0
    out = [struct.pack("!iii", len(dims), hasnull, leaf_oid)]
    for d in dims:
        out.append(struct.pack("!ii", d, 1))
    for x in flat:
        if x is None:
            out.append(struct.pack("!i", -1))
        else:
            b = encode_value_binary(x, leaf_dt)
            out.append(struct.pack("!i", len(b)) + b)
    return b"".join(out)


def _encode_struct_binary(row, dt: T.StructType) -> bytes:
    """record_send: field count, then per field (type oid, length, bytes)."""
    out = [struct.pack("!i", len(dt.fields))]
    for field, x in zip(dt.fields, row):
        oid, _ = _type_to_oid(field.dataType)
        if x is None:
            out.append(struct.pack("!ii", oid, -1))
        else:
            b = encode_value_binary(x, field.dataType)
            out.append(struct.pack("!ii", oid, len(b)) + b)
    return b"".join(out)


def supports_binary(dt: T.DataType) -> bool:
    if isinstance(dt, T.ArrayType):
        # nested arrays encode as PG multidimensional arrays (rectangular
        # data; ragged rows raise at encode time, as PG itself would)
        return supports_binary(_leaf_elem_type(dt))
    if isinstance(dt, T.StructType):
        return all(supports_binary(f.dataType) for f in dt.fields)
    if isinstance(dt, (T.DecimalType, T.DayTimeIntervalType,
                       T.YearMonthIntervalType)):
        return True
    if hasattr(T, "TimeType") and isinstance(dt, T.TimeType):
        return True
    return isinstance(dt, (T.BooleanType, T.ByteType, T.ShortType,
                           T.IntegerType, T.LongType, T.FloatType,
                           T.DoubleType, T.StringType, T.VarcharType,
                           T.CharType, T.BinaryType, T.DateType,
                           T.TimestampNTZType, T.TimestampType))


def encode_row(row, schema: T.StructType,
               extra_float_digits: int = 1) -> list[str | None]:
    """One Spark Row → list of PG text-format values (row_encoder.rs)."""
    return [encode_value(v, f.dataType, extra_float_digits)
            for v, f in zip(row, schema.fields)]


# ---------------------------------------------------------------------------
# column-at-a-time cell encoding (the wire writer's path)

_NULL_CELL = struct.pack("!i", -1)
_pack_len = struct.Struct("!i").pack
_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)
_TEXT_TYPES = (T.StringType, T.VarcharType, T.CharType)
_ONE_US = timedelta(microseconds=1)


def column_encoder(dt: T.DataType, fmt: int, extra_float_digits: int = 1):
    """The encoder of one result column: a sequence of values -> one
    DataRow cell per value (int32 length, then the value in format
    ``fmt``; length -1 for NULL). The type dispatch runs here, once per
    column; types without a fast path go through :func:`encode_value` /
    :func:`encode_value_binary` one value at a time."""
    fixed = _fixed_width_cell(dt) if fmt == 1 else None
    if fixed is not None:
        return lambda values: [_NULL_CELL if v is None else fixed(v)
                               for v in values]
    to_bytes = (_binary_bytes(dt) if fmt == 1
                else _text_bytes(dt, extra_float_digits))

    def encode_column(values) -> list[bytes]:
        out = []
        for v in values:
            if v is None:
                out.append(_NULL_CELL)
            else:
                b = to_bytes(v)
                out.append(_pack_len(len(b)) + b)
        return out
    return encode_column


def _text_bytes(dt: T.DataType, efd: int):
    if isinstance(dt, _INT_TYPES):
        return b"%d".__mod__
    if isinstance(dt, _TEXT_TYPES):
        return _str_bytes
    if isinstance(dt, (T.FloatType, T.DoubleType)):
        return lambda v: _encode_float(v, efd).encode()
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        tz = isinstance(dt, T.TimestampType)
        return lambda v: _encode_timestamp(v, tz).encode()
    if isinstance(dt, T.DateType):
        return lambda v: v.isoformat().encode()
    if isinstance(dt, T.BooleanType):
        return lambda v: b"t" if v else b"f"
    return lambda v: encode_value(v, dt, efd).encode()


def _binary_bytes(dt: T.DataType):
    if isinstance(dt, _TEXT_TYPES):
        return _str_bytes
    return lambda v: encode_value_binary(v, dt)


def _str_bytes(v) -> bytes:
    return str(v).encode()


def _fixed_width_cell(dt: T.DataType):
    """value -> whole cell (length and bytes in one pack) for the binary
    fixed-width types, else None."""
    if isinstance(dt, T.BooleanType):
        return lambda v: b"\x00\x00\x00\x01\x01" if v else \
            b"\x00\x00\x00\x01\x00"
    for types, code, width in (((T.ByteType, T.ShortType), "h", 2),
                               (T.IntegerType, "i", 4),
                               (T.LongType, "q", 8),
                               (T.FloatType, "f", 4),
                               (T.DoubleType, "d", 8)):
        if isinstance(dt, types):
            return functools.partial(struct.Struct("!i" + code).pack, width)
    if isinstance(dt, T.DateType):
        pack_date = struct.Struct("!ii").pack
        epoch = _PG_EPOCH_DATE.toordinal()
        return lambda v: pack_date(4, v.toordinal() - epoch)
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        pack_ts = struct.Struct("!iq").pack
        return lambda v: pack_ts(8, (v - _PG_EPOCH_TS) // _ONE_US)
    return None


# ---------------------------------------------------------------------------
# binary-format value DECODING (COPY FROM STDIN (FORMAT binary), binary
# Bind parameters) — inverse of encode_value_binary for the scalar surface

def decode_value_binary(b: bytes, dt: T.DataType):
    """PG binary wire bytes → Python value for the Spark type."""
    if b is None:
        return None
    if isinstance(dt, T.BooleanType):
        return b != b"\x00"
    if isinstance(dt, (T.ByteType, T.ShortType)):
        return struct.unpack("!h", b)[0]
    if isinstance(dt, T.IntegerType):
        return struct.unpack("!i", b)[0]
    if isinstance(dt, T.LongType):
        return struct.unpack("!q", b)[0]
    if isinstance(dt, T.FloatType):
        return struct.unpack("!f", b)[0]
    if isinstance(dt, T.DoubleType):
        return struct.unpack("!d", b)[0]
    if isinstance(dt, T.DecimalType):
        return _decode_numeric_binary(b)
    if isinstance(dt, (T.StringType, T.VarcharType, T.CharType)):
        return b.decode()
    if isinstance(dt, T.BinaryType):
        return bytes(b)
    if isinstance(dt, T.DateType):
        return _PG_EPOCH_DATE + timedelta(days=struct.unpack("!i", b)[0])
    if isinstance(dt, (T.TimestampNTZType, T.TimestampType)):
        return _PG_EPOCH_TS + timedelta(
            microseconds=struct.unpack("!q", b)[0])
    if isinstance(dt, T.DayTimeIntervalType):
        micros, days, months = struct.unpack("!qii", b)
        if months:
            raise NotImplementedError(
                "month-bearing interval cannot decode to a day-time "
                "interval column")
        return timedelta(days=days, microseconds=micros)
    if isinstance(dt, T.ArrayType):
        return _decode_array_binary(b, dt)
    if isinstance(dt, T.StructType):
        return _decode_struct_binary(b, dt)
    raise NotImplementedError(
        f"binary decode not implemented for {dt.simpleString()}")


def _decode_array_binary(b: bytes, dt: T.ArrayType):
    """array_recv: inverse of :func:`_encode_array_binary` including the
    multidimensional reshape back to nested Python lists."""
    ndim, _hasnull, _oid = struct.unpack("!iii", b[:12])
    pos = 12
    if ndim == 0:
        return []
    dims = []
    for _ in range(ndim):
        d, _lb = struct.unpack("!ii", b[pos:pos + 8])
        pos += 8
        dims.append(d)
    leaf_dt = _leaf_elem_type(dt)
    total = 1
    for d in dims:
        total *= d
    flat = []
    for _ in range(total):
        (ln,) = struct.unpack("!i", b[pos:pos + 4])
        pos += 4
        if ln == -1:
            flat.append(None)
        else:
            flat.append(decode_value_binary(b[pos:pos + ln], leaf_dt))
            pos += ln
    # row-major reshape, innermost dim first
    for d in reversed(dims[1:]):
        flat = [flat[i:i + d] for i in range(0, len(flat), d)]
    return flat


def _decode_struct_binary(b: bytes, dt: T.StructType):
    """record_recv: (nfields, then per field oid + length + payload) →
    tuple in schema field order."""
    (n,) = struct.unpack("!i", b[:4])
    if n != len(dt.fields):
        raise NotImplementedError(
            f"record has {n} fields, expected {len(dt.fields)}")
    pos = 4
    vals = []
    for field in dt.fields:
        _oid, ln = struct.unpack("!ii", b[pos:pos + 8])
        pos += 8
        if ln == -1:
            vals.append(None)
        else:
            vals.append(decode_value_binary(b[pos:pos + ln],
                                            field.dataType))
            pos += ln
    return tuple(vals)


def _decode_numeric_binary(b: bytes) -> Decimal:
    nd, weight, sign, dscale = struct.unpack("!HhHH", b[:8])
    if sign == 0xC000:
        return Decimal("NaN")
    if sign == 0xD000:
        return Decimal("Infinity")
    if sign == 0xF000:
        return Decimal("-Infinity")
    digits = struct.unpack(f"!{nd}H", b[8:8 + nd * 2])
    # widened context: the default 28-digit precision silently rounds
    # numerics wider than 28 digits during accumulation/quantize — the
    # wire payload carries nd*4 significant digits plus dscale
    import decimal
    with decimal.localcontext() as ctx:
        # full digit span: groups run from weight*4 down to -dscale, and
        # trailing zero groups are dropped from nd — size on both
        ctx.prec = (max(nd, weight + 1) * 4 + dscale + 8)
        val = Decimal(0)
        for i, g in enumerate(digits):
            val += Decimal(g).scaleb(4 * (weight - i))
        if sign == 0x4000:
            val = -val
        return val.quantize(Decimal(1).scaleb(-dscale)) if dscale else val
