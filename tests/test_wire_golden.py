"""Golden wire bytes: every message the server sends for a type matrix,
over every route a result can take to the client.

The routes are the simple protocol (Q), the extended protocol with text
and with binary result formats, a statement Describe, and COPY TO STDOUT
in text, csv and binary. The expected bytes in
``tests/data/wire_golden.json`` were captured from the server before the
two query protocols shared one result writer; any change to the encoders
or the writer must reproduce them exactly.

Regenerate (only for a deliberate wire change) with
``python tests/test_wire_golden.py --write``.
"""

import json
import os
import socket
import struct

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "wire_golden.json")

FLOATS = (
    "SELECT * FROM (SELECT CAST(0.1 AS FLOAT) AS f4,"
    " CAST(0.1 AS DOUBLE) AS f8, 0 AS k"
    " UNION ALL SELECT CAST('NaN' AS FLOAT), CAST('NaN' AS DOUBLE), 1"
    " UNION ALL SELECT CAST('Infinity' AS FLOAT),"
    " CAST('Infinity' AS DOUBLE), 2"
    " UNION ALL SELECT CAST('-Infinity' AS FLOAT),"
    " CAST('-Infinity' AS DOUBLE), 3"
    " UNION ALL SELECT CAST(-1.5e10 AS FLOAT), CAST(1e300 AS DOUBLE), 4"
    " UNION ALL SELECT CAST(NULL AS FLOAT), CAST(NULL AS DOUBLE), 5"
    ") t ORDER BY k")

# (name, extra_float_digits, SQL): one-row or ordered multi-row literals
CASES = [
    ("ints", 1,
     "SELECT * FROM (SELECT CAST(1 AS SMALLINT) AS i2, CAST(-2 AS INT) AS i4,"
     " CAST(9223372036854775807 AS BIGINT) AS i8, 0 AS k"
     " UNION ALL SELECT CAST(-32768 AS SMALLINT), CAST(2147483647 AS INT),"
     " CAST(-9223372036854775807 AS BIGINT), 1"
     " UNION ALL SELECT CAST(NULL AS SMALLINT), CAST(NULL AS INT),"
     " CAST(NULL AS BIGINT), 2) t ORDER BY k"),
    ("floats_efd1", 1, FLOATS),
    ("floats_efd0", 0, FLOATS),
    ("numeric_bool_bytea", 1,
     "SELECT CAST(12345.6789 AS DECIMAL(12,4)) AS num,"
     " CAST(-0.001 AS DECIMAL(10,3)) AS small,"
     " CAST(100000000000000000000 AS DECIMAL(38,0)) AS big,"
     " true AS t, false AS f, CAST(NULL AS BOOLEAN) AS nb,"
     " X'00FF10' AS by, CAST(NULL AS BINARY) AS nby"),
    ("text_quoting", 1,
     "SELECT 'it''s \"q\"' AS q, 'back\\\\slash' AS bs,"
     " 'tab\there' AS tb, '' AS empty, CAST(NULL AS STRING) AS ns"),
    ("datetimes", 1,
     "SELECT DATE '2024-02-29' AS d,"
     " CAST('2024-01-02 03:04:05.5' AS TIMESTAMP_NTZ) AS ts,"
     " CAST('1999-12-31 23:59:59.25+00' AS timestamptz) AS tstz,"
     " CAST(NULL AS DATE) AS nd"),
    ("intervals", 1,
     "SELECT INTERVAL '1' DAY + INTERVAL '2' HOUR AS iv,"
     " INTERVAL '-0.5' SECOND AS neg_subsec,"
     " INTERVAL '-1' DAY - INTERVAL '12' HOUR AS neg_day"),
    ("arrays", 1,
     "SELECT array(1, NULL, 3) AS ia,"
     " array('a', NULL, 'b c', 'q\"x', 'NULL', '', 'x\\\\y') AS ta,"
     " array(array(1, 2), array(3, 4)) AS nested"),
    ("struct", 1,
     "SELECT named_struct('a', 1, 'b', 'x y', 'c', CAST(NULL AS INT),"
     " 'd', '') AS st"),
    ("map", 1, "SELECT map('k', 1, 'j', 2) AS m, 7 AS after"),
    ("nulls", 1,
     "SELECT CAST(NULL AS INT) AS n_int, CAST(NULL AS STRING) AS n_text,"
     " CAST(NULL AS DOUBLE) AS n_f8, CAST(NULL AS ARRAY<INT>) AS n_arr"),
    # the schema-to-OID and row-encoding case that encode_dataframe's unit
    # test used to pin
    ("round_trip", 1,
     "SELECT 1 AS i, 'txt' AS s, true AS b, array(1, 2) AS xs,"
     " named_struct('a', 1, 'b', 'v') AS st, CAST(1.25 AS DOUBLE) AS d,"
     " CAST(NULL AS INT) AS n"),
]

ROUTES = ("q", "execute_text", "execute_binary", "describe_statement",
          "copy_text", "copy_csv", "copy_binary")


class RawClient:
    """Protocol v3 frames in, every backend message out as (tag, bytes)."""

    def __init__(self, host, port):
        self.sock = socket.create_connection((host, port), timeout=120)
        self.buf = b""
        body = struct.pack("!I", 196608) + b"user\x00postgres\x00\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        self.until_ready()

    def _recv_exact(self, n):
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("server closed")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def until_ready(self):
        msgs = []
        while True:
            tag = self._recv_exact(1)
            (length,) = struct.unpack("!I", self._recv_exact(4))
            msgs.append((tag, self._recv_exact(length - 4)))
            if tag == b"Z":
                return msgs

    def send(self, tag, body):
        self.sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)

    def query(self, sql):
        self.send(b"Q", sql.encode() + b"\x00")
        return self.until_ready()

    def extended(self, sql, result_format=None, describe_only=False):
        self.send(b"P", b"\x00" + sql.encode() + b"\x00" + b"\x00\x00")
        if describe_only:
            self.send(b"D", b"S\x00")
        else:
            rf = (struct.pack("!H", 0) if result_format is None
                  else struct.pack("!HH", 1, result_format))
            self.send(b"B", b"\x00\x00" + struct.pack("!HH", 0, 0) + rf)
            self.send(b"E", b"\x00" + struct.pack("!I", 0))
        self.send(b"S", b"")
        return self.until_ready()

    def close(self):
        self.send(b"X", b"")
        self.sock.close()


def run_route(client, sql, route):
    if route == "q":
        return client.query(sql)
    if route == "execute_text":
        return client.extended(sql)
    if route == "execute_binary":
        return client.extended(sql, result_format=1)
    if route == "describe_statement":
        return client.extended(sql, describe_only=True)
    opts = {"copy_text": "", "copy_csv": " WITH (FORMAT csv)",
            "copy_binary": " WITH (FORMAT binary)"}[route]
    return client.query(f"COPY ({sql}) TO STDOUT{opts}")


def capture_case(client, efd, sql):
    client.query(f"SET extra_float_digits = {efd}")
    try:
        return {route: [[tag.decode(), payload.hex()]
                        for tag, payload in run_route(client, sql, route)]
                for route in ROUTES}
    finally:
        client.query("SET extra_float_digits = 1")


@pytest.fixture(scope="module")
def wire_client(spark):
    from datafusion_postgres_spark.server.pgwire import PgWireServer

    srv = PgWireServer(spark, port=0)
    srv.start_background()
    client = RawClient(srv.host, srv.port)
    yield client
    client.close()
    srv.shutdown()


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as f:
        return json.load(f)


@pytest.mark.parametrize("name,efd,sql", CASES, ids=[c[0] for c in CASES])
def test_wire_bytes(wire_client, golden, name, efd, sql):
    got = capture_case(wire_client, efd, sql)
    for route in ROUTES:
        assert got[route] == golden[name][route], f"{name} over {route}"


if __name__ == "__main__":
    import sys

    from datafusion_postgres_spark.functions import register_all
    from datafusion_postgres_spark.server.pgwire import PgWireServer
    from datafusion_postgres_spark.session import build_spark

    if "--write" not in sys.argv:
        sys.exit("usage: python tests/test_wire_golden.py --write")
    spark = build_spark(app_name="tests", master="local[2]",
                        extra_conf={"spark.sql.shuffle.partitions": "2"})
    register_all(spark)
    srv = PgWireServer(spark, port=0)
    srv.start_background()
    c = RawClient(srv.host, srv.port)
    out = {name: capture_case(c, efd, sql) for name, efd, sql in CASES}
    c.close()
    srv.shutdown()
    with open(GOLDEN, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    spark.stop()
