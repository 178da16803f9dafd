"""PG text-format encoder tests — models the reference's encoder edge-case
tests (arrow-pg/src/encoder.rs:546-737: nulls, arrays, structs, quoting)
and type-mapping pins (datatypes.rs:241-364)."""

from datetime import date, datetime, timedelta
from decimal import Decimal

from pyspark.sql import types as T

from datafusion_postgres_spark.server import encoder as E


class TestTypeMapping:
    def test_scalar_oids(self):
        schema = T.StructType([
            T.StructField("a", T.BooleanType()),
            T.StructField("b", T.IntegerType()),
            T.StructField("c", T.LongType()),
            T.StructField("d", T.DoubleType()),
            T.StructField("e", T.StringType()),
            T.StructField("f", T.BinaryType()),
            T.StructField("g", T.DateType()),
            T.StructField("h", T.TimestampType()),
            T.StructField("i", T.TimestampNTZType()),
            T.StructField("j", T.DecimalType(12, 2)),
        ])
        oids = [f.type_oid for f in E.schema_to_pg_fields(schema)]
        assert oids == [16, 23, 20, 701, 25, 17, 1082, 1184, 1114, 1700]

    def test_array_oids(self):
        f = E.field_to_pg(T.StructField(
            "xs", T.ArrayType(T.IntegerType())))
        assert f.type_oid == 1007  # _int4
        f = E.field_to_pg(T.StructField("ss", T.ArrayType(T.StringType())))
        assert f.type_oid == 1009  # _text

    def test_oid_alias_metadata(self):
        # the pg.oid_alias StructField-metadata trick (oid_field.rs:1-12):
        # regtype alias must report OID 2206 (pinned datatypes.rs:319-350)
        f = E.field_to_pg(T.StructField("t", T.IntegerType(),
                                        metadata={"pg.oid_alias": "regtype"}))
        assert (f.type_oid, f.type_name) == (2206, "regtype")
        f = E.field_to_pg(T.StructField("c", T.IntegerType(),
                                        metadata={"pg.oid_alias": "regclass"}))
        assert f.type_oid == 2205

    def test_struct_is_record(self):
        f = E.field_to_pg(T.StructField(
            "s", T.StructType([T.StructField("x", T.IntegerType())])))
        assert f.type_oid == 2249


class TestValueEncoding:
    def test_bool(self):
        assert E.encode_value(True, T.BooleanType()) == "t"
        assert E.encode_value(False, T.BooleanType()) == "f"

    def test_null(self):
        assert E.encode_value(None, T.IntegerType()) is None

    def test_floats(self):
        assert E.encode_value(1.5, T.DoubleType()) == "1.5"
        assert E.encode_value(float("nan"), T.DoubleType()) == "NaN"
        assert E.encode_value(float("inf"), T.DoubleType()) == "Infinity"
        assert E.encode_value(float("-inf"), T.DoubleType()) == "-Infinity"

    def test_decimal_no_exponent(self):
        assert E.encode_value(Decimal("1E+2"), T.DecimalType(10, 0)) == "100"
        assert E.encode_value(Decimal("12.30"), T.DecimalType(10, 2)) == "12.30"

    def test_bytea_hex(self):
        assert E.encode_value(b"\x01\xab", T.BinaryType()) == "\\x01ab"

    def test_date_timestamp(self):
        assert E.encode_value(date(2024, 1, 5), T.DateType()) == "2024-01-05"
        assert E.encode_value(datetime(2024, 1, 5, 12, 30, 1, 500000),
                              T.TimestampNTZType()) == "2024-01-05 12:30:01.5"
        assert E.encode_value(datetime(2024, 1, 5, 12, 0, 0),
                              T.TimestampType()) == "2024-01-05 12:00:00+00"

    def test_interval(self):
        assert E.encode_value(timedelta(days=1, hours=2, minutes=3, seconds=4),
                              T.DayTimeIntervalType()) == "1 day 02:03:04"
        assert E.encode_value(timedelta(seconds=90),
                              T.DayTimeIntervalType()) == "00:01:30"
        assert E.encode_value(timedelta(days=2),
                              T.DayTimeIntervalType()) == "2 days"

    def test_int_array(self):
        assert E.encode_value([1, None, 3], T.ArrayType(T.IntegerType())) \
            == "{1,NULL,3}"

    def test_string_array_quoting(self):
        got = E.encode_value(["plain", "has space", 'q"uote', None, ""],
                             T.ArrayType(T.StringType()))
        assert got == '{plain,"has space","q\\"uote",NULL,""}'

    def test_nested_array(self):
        got = E.encode_value([[1, 2], [3]],
                             T.ArrayType(T.ArrayType(T.IntegerType())))
        assert got == "{{1,2},{3}}"

    def test_struct_encoding(self):
        dt = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
        assert E.encode_value((1, "x y"), dt) == '(1,"x y")'
        assert E.encode_value((None, "z"), dt) == "(,z)"


class TestBinaryEncoding:
    def test_scalars(self):
        import struct
        from datetime import date, datetime

        assert E.encode_value_binary(True, T.BooleanType()) == b"\x01"
        assert E.encode_value_binary(7, T.IntegerType()) == struct.pack("!i", 7)
        assert E.encode_value_binary(7, T.LongType()) == struct.pack("!q", 7)
        assert E.encode_value_binary(1.5, T.DoubleType()) == struct.pack("!d", 1.5)
        assert E.encode_value_binary("hi", T.StringType()) == b"hi"
        assert E.encode_value_binary(b"\x01", T.BinaryType()) == b"\x01"
        # PG epoch 2000-01-01: 2000-01-02 -> 1 day
        assert E.encode_value_binary(date(2000, 1, 2), T.DateType()) == \
            struct.pack("!i", 1)
        assert E.encode_value_binary(datetime(2000, 1, 1, 0, 0, 1),
                                     T.TimestampNTZType()) == \
            struct.pack("!q", 1_000_000)

    def test_null(self):
        assert E.encode_value_binary(None, T.IntegerType()) is None

    def test_numeric(self):
        """numeric_send wire layout: ndigits, weight, sign, dscale +
        base-10000 digit groups (what psycopg's binary cursor decodes)."""
        import struct
        from decimal import Decimal

        def enc(s, prec=20, scale=6):
            return E.encode_value_binary(Decimal(s), T.DecimalType(prec, scale))

        # dscale follows the VALUE's scale (what Spark hands the encoder),
        # like PG's numeric_send emits the stored display scale
        assert enc("12345.6789") == \
            struct.pack("!HhHH3H", 3, 1, 0x0000, 4, 1, 2345, 6789)
        assert enc("-0.5") == struct.pack("!HhHH1H", 1, -1, 0x4000, 1, 5000)
        assert enc("0") == struct.pack("!HhHH", 0, 0, 0x0000, 0)
        # 10^8 = group '1' at weight 2 (1 0000 0000)
        assert enc("100000000") == \
            struct.pack("!HhHH1H", 1, 2, 0x0000, 0, 1)
        # trailing zeros kept in dscale, dropped from digit groups
        assert enc("1.2300") == \
            struct.pack("!HhHH2H", 2, 0, 0x0000, 4, 1, 2300)
        assert enc("NaN") == struct.pack("!HhHH", 0, 0, 0xC000, 0)

    def test_interval(self):
        import struct
        from datetime import timedelta

        dt = T.DayTimeIntervalType()
        assert E.encode_value_binary(
            timedelta(days=1, hours=2), dt) == \
            struct.pack("!qii", 2 * 3_600_000_000, 1, 0)
        # negative: days truncate toward zero, micros carry the remainder
        assert E.encode_value_binary(
            timedelta(days=-1, hours=-12), dt) == \
            struct.pack("!qii", -43_200_000_000, -1, 0)
        assert E.encode_value_binary(14, T.YearMonthIntervalType()) == \
            struct.pack("!qii", 0, 0, 14)

    def test_numeric_wide_round_trip(self):
        """Numerics wider than the default 28-digit Decimal context must
        survive decode exactly (ADVICE round 3: quantize under the default
        context silently rounded decimal(38,18) wire values)."""
        from decimal import Decimal

        for s in ("12345678901234567890.123456789012345678",
                  "-99999999999999999999.999999999999999999",
                  "0.000000000000000001",
                  "99999999999999999999999999999999999999"):
            v = Decimal(s)
            dt = T.DecimalType(38, 18 if "." in s else 0)
            assert E.decode_value_binary(
                E.encode_value_binary(v, dt), dt) == v

    def test_interval_huge_exact_day_split(self):
        """Above ~2^53 µs float division can misplace a day — the split
        must use integer truncation toward zero."""
        import struct
        from datetime import timedelta

        dt = T.DayTimeIntervalType()
        # 106751990 days < timedelta max; total_us ≈ 9.2e18 > 2^53
        big = timedelta(days=106_751_990, microseconds=1)
        total = big // timedelta(microseconds=1)
        micros, days, months = struct.unpack(
            "!qii", E.encode_value_binary(big, dt))
        assert (days, micros, months) == (106_751_990, 1, 0)
        assert days * 86_400_000_000 + micros == total
        neg = timedelta(days=-106_751_990, microseconds=-1)
        micros, days, months = struct.unpack(
            "!qii", E.encode_value_binary(neg, dt))
        assert (days, micros) == (-106_751_990, -1)

    def test_array(self):
        """array_send: ndim, hasnull, elem oid, [dim, lbound], elements."""
        import struct

        b = E.encode_value_binary([1, None, 3], T.ArrayType(T.IntegerType()))
        assert b == (struct.pack("!iiiii", 1, 1, 23, 3, 1) +
                     struct.pack("!ii", 4, 1) + struct.pack("!i", -1) +
                     struct.pack("!ii", 4, 3))
        # empty array: ndim=0 header only
        assert E.encode_value_binary([], T.ArrayType(T.LongType())) == \
            struct.pack("!iii", 0, 0, 20)
        b = E.encode_value_binary(["a", "bc"], T.ArrayType(T.StringType()))
        assert b == (struct.pack("!iiiii", 1, 0, 25, 2, 1) +
                     struct.pack("!i", 1) + b"a" +
                     struct.pack("!i", 2) + b"bc")

    def test_struct(self):
        """record_send: nfields, then (oid, len, payload) per field."""
        import struct

        dt = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
        b = E.encode_value_binary((7, "x"), dt)
        assert b == (struct.pack("!i", 2) +
                     struct.pack("!ii", 23, 4) + struct.pack("!i", 7) +
                     struct.pack("!ii", 25, 1) + b"x")
        assert E.encode_value_binary((None, None), dt) == \
            struct.pack("!i", 2) + struct.pack("!ii", 23, -1) + \
            struct.pack("!ii", 25, -1)

    def test_nested_array_binary(self):
        """array<array<int>> → PG 2-D array: ndim=2, leaf OID, row-major
        flattened leaves (reference: arrow-pg list_encoder nested path)."""
        import struct

        dt = T.ArrayType(T.ArrayType(T.IntegerType()))
        b = E.encode_value_binary([[1, 2], [3, None]], dt)
        ndim, hasnull, oid = struct.unpack("!iii", b[:12])
        d1, lb1, d2, lb2 = struct.unpack("!iiii", b[12:28])
        assert (ndim, hasnull, oid) == (2, 1, 23)
        assert (d1, d2, lb1, lb2) == (2, 2, 1, 1)
        assert E.decode_value_binary(b, dt) == [[1, 2], [3, None]]
        # 3-D round trip
        dt3 = T.ArrayType(dt)
        v3 = [[[1, 2], [3, 4]], [[5, 6], [7, 8]]]
        assert E.decode_value_binary(E.encode_value_binary(v3, dt3), dt3) == v3
        # empty still emits the ndim=0 header
        assert E.encode_value_binary([], dt) == struct.pack("!iii", 0, 0, 23)

    def test_ragged_nested_array_raises(self):
        import pytest

        dt = T.ArrayType(T.ArrayType(T.IntegerType()))
        with pytest.raises(NotImplementedError, match="ragged"):
            E.encode_value_binary([[1, 2], [3]], dt)
        with pytest.raises(NotImplementedError, match="NULL sub-array"):
            E.encode_value_binary([[1], None], dt)

    def test_list_of_struct_binary_round_trip(self):
        import struct

        st = T.StructType([T.StructField("a", T.IntegerType()),
                           T.StructField("b", T.StringType())])
        dt = T.ArrayType(st)
        v = [(1, "x"), (2, None), None]
        b = E.encode_value_binary(v, dt)
        ndim, hasnull, oid = struct.unpack("!iii", b[:12])
        assert (ndim, hasnull, oid) == (1, 1, 2249)
        assert E.decode_value_binary(b, dt) == v

    def test_array_oids_follow_leaf(self):
        # int[][] is still _int4 (1007); record[] is _record (2287)
        assert E._type_to_oid(
            T.ArrayType(T.ArrayType(T.IntegerType())))[0] == 1007
        st = T.StructType([T.StructField("a", T.IntegerType())])
        assert E._type_to_oid(T.ArrayType(st))[0] == 2287

    def test_supports_binary_surface(self):
        assert E.supports_binary(T.ArrayType(T.IntegerType()))
        assert E.supports_binary(T.DecimalType(10, 2))
        assert E.supports_binary(T.DayTimeIntervalType())
        assert E.supports_binary(T.ArrayType(T.ArrayType(T.LongType())))
        st = T.StructType([T.StructField("a", T.IntegerType())])
        assert E.supports_binary(T.ArrayType(st))
        assert E.supports_binary(
            T.StructType([T.StructField("a", T.LongType())]))
        # round 4: nested arrays now encode as PG multidimensional arrays
        assert E.supports_binary(
            T.ArrayType(T.ArrayType(T.IntegerType())))

    def test_unsupported_raises(self):
        import pytest as _pytest
        with _pytest.raises(NotImplementedError):
            E.encode_value_binary({"k": 1}, T.MapType(T.StringType(),
                                                      T.IntegerType()))
        assert not E.supports_binary(T.MapType(T.StringType(),
                                               T.IntegerType()))
