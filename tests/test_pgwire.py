"""pg-wire protocol end-to-end tests with a frame-level client
(the reference's tests-integration analog, minus psycopg which is not in
this container — the mini client speaks protocol v3 directly)."""

import socket
import struct

import pytest

from datafusion_postgres_spark.server.pgwire import PgWireServer


class MiniPgClient:
    """Just enough of the v3 frontend protocol for tests."""

    def __init__(self, host, port, user="postgres", password=None):
        self.sock = socket.create_connection((host, port), timeout=60)
        self.buf = b""
        payload = struct.pack("!I", 196608)
        payload += b"user\x00" + user.encode() + b"\x00"
        payload += b"database\x00postgres\x00\x00"
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self.password = password
        self.params = {}
        self._consume_until_ready()

    def _recv_exact(self, n):
        while len(self.buf) < n:
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("server closed")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def read_message(self):
        tag = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        return tag, self._recv_exact(length - 4)

    def _consume_until_ready(self):
        msgs = []
        while True:
            tag, payload = self.read_message()
            if tag == b"R":
                (code,) = struct.unpack("!I", payload[:4])
                if code == 3:  # cleartext password
                    body = self.password.encode() + b"\x00"
                    self.sock.sendall(
                        b"p" + struct.pack("!I", len(body) + 4) + body)
                    continue
            if tag == b"S":
                k, v = payload.split(b"\x00")[:2]
                self.params[k.decode()] = v.decode()
            msgs.append((tag, payload))
            if tag == b"Z":
                self.txn_status = payload
                return msgs
            if tag == b"E":
                self.last_error = payload
                if not any(t == b"R" for t, _ in msgs):
                    return msgs

    def query(self, sql):
        body = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        rows, cols, tags, errors = [], [], [], []
        while True:
            tag, payload = self.read_message()
            if tag == b"T":
                (n,) = struct.unpack("!H", payload[:2])
                cols, off = [], 2
                for _ in range(n):
                    end = payload.index(b"\x00", off)
                    name = payload[off:end].decode()
                    off = end + 1 + 18
                    cols.append(name)
            elif tag == b"D":
                (n,) = struct.unpack("!H", payload[:2])
                off, row = 2, []
                for _ in range(n):
                    (ln,) = struct.unpack("!i", payload[off:off + 4])
                    off += 4
                    if ln < 0:
                        row.append(None)
                    else:
                        row.append(payload[off:off + ln].decode())
                        off += ln
                rows.append(row)
            elif tag == b"C":
                tags.append(payload.rstrip(b"\x00").decode())
            elif tag == b"E":
                fields = {p[:1]: p[1:].decode() for p in
                          payload.split(b"\x00") if p}
                errors.append(fields)
            elif tag == b"S":
                k, v = payload.split(b"\x00")[:2]
                self.params[k.decode()] = v.decode()
            elif tag == b"Z":
                self.txn_status = payload
                return {"cols": cols, "rows": rows, "tags": tags,
                        "errors": errors}

    def copy_in(self, sql, data: bytes = b"", fail: str | None = None):
        """Send a COPY ... FROM STDIN and drive the copy-in sub-protocol."""
        body = sql.encode() + b"\x00"
        self.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        tags, errors, got_copy_in = [], [], False
        while True:
            tag, payload = self.read_message()
            if tag == b"G":
                got_copy_in = True
                if fail is not None:
                    b = fail.encode() + b"\x00"
                    self.sock.sendall(
                        b"f" + struct.pack("!I", len(b) + 4) + b)
                else:
                    self.sock.sendall(
                        b"d" + struct.pack("!I", len(data) + 4) + data)
                    self.sock.sendall(b"c" + struct.pack("!I", 4))
            elif tag == b"C":
                tags.append(payload.rstrip(b"\x00").decode())
            elif tag == b"E":
                errors.append({p[:1]: p[1:].decode() for p in
                               payload.split(b"\x00") if p})
            elif tag == b"Z":
                self.txn_status = payload
                return {"tags": tags, "errors": errors,
                        "copy_in": got_copy_in}

    def close(self):
        self.sock.sendall(b"X" + struct.pack("!I", 4))
        self.sock.close()


@pytest.fixture(scope="module")
def server(spark):
    srv = PgWireServer(spark, port=0)  # ephemeral port
    srv.start_background()
    yield srv
    srv.shutdown()


@pytest.fixture(scope="module")
def client(server):
    c = MiniPgClient(server.host, server.port)
    c.query("SELECT 1")  # warm the session
    yield c
    c.close()


class TestSimpleQuery:
    def test_startup_parameter_status(self, client):
        assert client.params["server_version"].startswith("15.0")
        assert client.params["client_encoding"] == "UTF8"

    def test_select_literal(self, client):
        res = client.query("SELECT 1 AS one, 'x' AS s, true AS b")
        assert res["cols"] == ["one", "s", "b"]
        assert res["rows"] == [["1", "x", "t"]]
        assert res["tags"] == ["SELECT 1"]

    def test_table_query(self, client, server):
        client.query(
            "CREATE OR REPLACE TEMPORARY VIEW wnation AS "
            "SELECT * FROM parquet.`/root/testdata/sf0.001/nation.parquet`")
        res = client.query(
            "SELECT n_name FROM wnation WHERE n_nationkey < 3 ORDER BY 1")
        assert [r[0] for r in res["rows"]] == ["NATION_0", "NATION_1",
                                              "NATION_2"]

    def test_multi_statement(self, client):
        res = client.query("SELECT 1 AS a; SELECT 2 AS b")
        assert res["tags"] == ["SELECT 1", "SELECT 1"]
        assert res["rows"] == [["1"], ["2"]]

    def test_postgres_dialect(self, client):
        res = client.query(
            "SELECT 2.5::int8 AS r, version() "
            )
        assert res["rows"][0][0] == "2"
        assert "PostgreSQL" in res["rows"][0][1]

    def test_error_has_sqlstate(self, client):
        res = client.query("SELECT * FROM missing_table_pgwire")
        assert res["errors"]
        assert res["errors"][0][b"C"] == "42P01"
        # connection still usable
        assert client.query("SELECT 1")["rows"] == [["1"]]

    def test_set_show_parameter_status(self, client):
        res = client.query("SET TIME ZONE 'America/Chicago'")
        assert res["tags"] == ["SET"]
        assert client.params["TimeZone"] == "America/Chicago"
        res = client.query("SHOW TimeZone")
        assert res["rows"] == [["America/Chicago"]]
        client.query("SET TIME ZONE 'UTC'")

    def test_transaction_status_byte(self, client):
        client.query("BEGIN")
        assert client.txn_status == b"T"
        client.query("SELECT * FROM missing_tbl_x")
        assert client.txn_status == b"E"
        client.query("ROLLBACK")
        assert client.txn_status == b"I"

    def test_null_encoding(self, client):
        res = client.query("SELECT CAST(NULL AS INT) AS n")
        assert res["rows"] == [[None]]

    def test_array_and_struct(self, client):
        res = client.query(
            "SELECT array(1,2,3) AS xs, named_struct('a', 1, 'b', 'x') AS st")
        assert res["rows"] == [["{1,2,3}", "(1,x)"]]

    def test_array_elements_quoted_as_array_out(self, client):
        # PG array_out quotes any element whose text is empty, reads NULL
        # or holds whitespace, a quote, a brace, a comma or a backslash,
        # whatever the element type
        res = client.query(
            "SELECT array(TIMESTAMP '2024-01-02 03:04:05') AS ts,"
            " array(DATE '2024-01-02', NULL) AS d,"
            " array(make_dt_interval(1, 2, 0, 0)) AS iv,"
            " array('a b', 'null', '', 'x', 'it''s', 'q\"', 't\tab') AS t,"
            " array(array('a b')) AS nested")
        assert res["rows"] == [[
            '{"2024-01-02 03:04:05+00"}',
            "{2024-01-02,NULL}",
            '{"1 day 02:00:00"}',
            '{"a b","null","",x,it\'s,"q\\"","t\tab"}',
            '{{"a b"}}']]

    def test_map_text_is_spark_to_json(self, client, spark):
        # a MAP goes out in Spark's entry order, which is what Spark's own
        # to_json prints (a hash order would give zz, aa, a, b, c)
        m = "map('b', 1, 'a', 2, 'zz', 3, 'c', 4, 'aa', 5)"
        res = client.query(f"SELECT {m} AS m")
        want = spark.sql(f"SELECT to_json({m})").first()[0]
        assert res["rows"] == [[want]]
        assert want == '{"b":1,"a":2,"zz":3,"c":4,"aa":5}'


class TestExtendedProtocol:
    def _parse(self, client, name, sql):
        body = name.encode() + b"\x00" + sql.encode() + b"\x00" + b"\x00\x00"
        client.sock.sendall(b"P" + struct.pack("!I", len(body) + 4) + body)

    def _bind(self, client, portal, stmt, params):
        body = portal.encode() + b"\x00" + stmt.encode() + b"\x00"
        body += struct.pack("!H", 0)
        body += struct.pack("!H", len(params))
        for p in params:
            if p is None:
                body += struct.pack("!i", -1)
            else:
                body += struct.pack("!I", len(p)) + p.encode()
        body += struct.pack("!H", 0)
        client.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)

    def _execute(self, client, portal, max_rows=0):
        body = portal.encode() + b"\x00" + struct.pack("!I", max_rows)
        client.sock.sendall(b"E" + struct.pack("!I", len(body) + 4) + body)

    def _sync(self, client):
        client.sock.sendall(b"S" + struct.pack("!I", 4))

    def test_parse_bind_execute(self, client):
        self._parse(client, "st1",
                    "SELECT n_name FROM wnation WHERE n_nationkey = $1::int4")
        self._bind(client, "", "st1", ["7"])
        self._execute(client, "")
        self._sync(client)
        rows, tags = [], []
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                rows.append(payload)
            elif tag == b"C":
                tags.append(payload.rstrip(b"\x00").decode())
            elif tag == b"Z":
                break
        assert tags == ["SELECT 1"]
        assert b"NATION_7" in rows[0]

    def test_bind_binary_parameter(self, client):
        """Bind with parameter format code 1: the int8 arrives as 8
        network-order bytes (JDBC setLong path), not text."""
        self._parse(client, "stbin",
                    "SELECT $1::int8 + 1 AS v, $2::text AS s")
        body = b"\x00" + b"stbin\x00"
        body += struct.pack("!HHH", 2, 1, 0)   # per-param formats: bin, text
        body += struct.pack("!H", 2)           # two params
        body += struct.pack("!i", 8) + struct.pack("!q", 41)
        body += struct.pack("!i", 2) + b"hi"
        body += struct.pack("!H", 0)           # all-text results
        client.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)
        self._execute(client, "")
        self._sync(client)
        rows = []
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                rows.append(payload)
            elif tag == b"Z":
                break
        assert rows and b"42" in rows[0] and b"hi" in rows[0]

    def test_parse_declared_oids_binary_param(self, client):
        """The Parse message's declared param-type OIDs must drive binary
        Bind decode: no cast in the SQL, $1 DECLARED int8 (the normal
        psycopg/JDBC binary-param flow). Before round 4 the declared list
        was discarded, so the 8 raw bytes decoded as text garbage."""
        name, sql = b"stdecl", b"SELECT $1 + 1 AS v"
        body = name + b"\x00" + sql + b"\x00"
        body += struct.pack("!HI", 1, 20)      # one declared OID: int8
        client.sock.sendall(b"P" + struct.pack("!I", len(body) + 4) + body)
        bbody = b"\x00" + b"stdecl\x00"
        bbody += struct.pack("!HH", 1, 1)      # all params binary
        bbody += struct.pack("!H", 1)
        bbody += struct.pack("!i", 8) + struct.pack("!q", 99)
        bbody += struct.pack("!H", 0)
        client.sock.sendall(b"B" + struct.pack("!I", len(bbody) + 4) + bbody)
        self._execute(client, "")
        self._sync(client)
        rows = []
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                rows.append(payload)
            elif tag == b"Z":
                break
        assert rows and b"100" in rows[0]

    def test_portal_suspend_resume(self, client):
        """Execute with max_rows suspends the portal; the next Execute
        RESUMES the same iterator (no re-execution, no duplicate rows) —
        the JDBC setFetchSize path."""
        self._parse(client, "stps",
                    "SELECT n_nationkey FROM wnation ORDER BY n_nationkey")
        self._bind(client, "pps", "stps", [])
        self._execute(client, "pps", max_rows=3)
        self._sync(client)
        first, saw_suspend = [], False
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                first.append(payload)
            elif tag == b"s":
                saw_suspend = True
            elif tag == b"Z":
                break
        assert saw_suspend and len(first) == 3

        self._execute(client, "pps", max_rows=0)  # drain the rest
        self._sync(client)
        rest, tags = [], []
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                rest.append(payload)
            elif tag == b"C":
                tags.append(payload.rstrip(b"\x00").decode())
            elif tag == b"Z":
                break
        # 25 nations total: 3 + 22, resumed (not re-sent from the start)
        assert len(rest) == 22
        assert first[0] not in rest
        assert tags == ["SELECT 25"]

    def test_describe_statement(self, client):
        self._parse(client, "st2", "SELECT $1::int8 AS v")
        body = b"S" + b"st2" + b"\x00"
        client.sock.sendall(b"D" + struct.pack("!I", len(body) + 4) + body)
        self._sync(client)
        saw_param_desc = saw_rowdesc = False
        while True:
            tag, payload = client.read_message()
            if tag == b"t":
                (n,) = struct.unpack("!H", payload[:2])
                (oid,) = struct.unpack("!I", payload[2:6])
                assert (n, oid) == (1, 20)  # one int8 param
                saw_param_desc = True
            elif tag == b"T":
                saw_rowdesc = True
            elif tag == b"Z":
                break
        assert saw_param_desc and saw_rowdesc


class TestBinaryFormat:
    def test_binary_result_format(self, client, server):
        """Bind with result-format=1: ints/doubles arrive as network-order
        binary."""
        ext = TestExtendedProtocol()
        ext._parse(client, "bf1", "SELECT 258 AS i, CAST(1.5 AS DOUBLE) AS d, 'txt' AS s")
        # bind with one result-format code = 1 (all binary)
        body = b"\x00" + b"bf1\x00"
        body += struct.pack("!H", 0)          # no param formats
        body += struct.pack("!H", 0)          # no params
        body += struct.pack("!HH", 1, 1)      # one result code: binary
        client.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)
        ext._execute(client, "")
        ext._sync(client)
        data = None
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                data = payload
            elif tag == b"Z":
                break
        assert data is not None
        (n,) = struct.unpack("!H", data[:2])
        assert n == 3
        off = 2
        (l1,) = struct.unpack("!i", data[off:off + 4]); off += 4
        assert l1 == 4
        (i_val,) = struct.unpack("!i", data[off:off + 4]); off += 4
        assert i_val == 258
        (l2,) = struct.unpack("!i", data[off:off + 4]); off += 4
        assert l2 == 8
        (d_val,) = struct.unpack("!d", data[off:off + 8]); off += 8
        assert d_val == 1.5
        (l3,) = struct.unpack("!i", data[off:off + 4]); off += 4
        assert data[off:off + l3] == b"txt"

    def test_binary_array_numeric_interval(self, client, server):
        """Round-2 gap closed: arrays / numeric / interval in binary result
        format (previously NotImplementedError -> text-only fallback)."""
        ext = TestExtendedProtocol()
        ext._parse(client, "bf2",
                   "SELECT array(1, 2, 3) AS arr, "
                   "CAST(12345.6789 AS DECIMAL(12,4)) AS num, "
                   "INTERVAL '1' DAY + INTERVAL '2' HOUR AS iv")
        body = b"\x00" + b"bf2\x00"
        body += struct.pack("!H", 0)
        body += struct.pack("!H", 0)
        body += struct.pack("!HH", 1, 1)      # all binary
        client.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)
        ext._execute(client, "")
        ext._sync(client)
        data = None
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                data = payload
            elif tag == b"Z":
                break
        assert data is not None
        (n,) = struct.unpack("!H", data[:2])
        assert n == 3
        off = 2
        # arr: int4[] {1,2,3}
        (alen,) = struct.unpack("!i", data[off:off + 4]); off += 4
        arr = data[off:off + alen]; off += alen
        ndim, hasnull, elem_oid, dim, lb = struct.unpack("!iiiii", arr[:20])
        assert (ndim, hasnull, elem_oid, dim, lb) == (1, 0, 23, 3, 1)
        vals = []
        p = 20
        for _ in range(dim):
            (el,) = struct.unpack("!i", arr[p:p + 4]); p += 4
            (v,) = struct.unpack("!i", arr[p:p + el]); p += el
            vals.append(v)
        assert vals == [1, 2, 3]
        # num: numeric_send groups
        (nlen,) = struct.unpack("!i", data[off:off + 4]); off += 4
        nd, weight, sign, dscale = struct.unpack("!HhHH", data[off:off + 8])
        digits = struct.unpack(f"!{nd}H", data[off + 8:off + 8 + nd * 2])
        off += nlen
        assert (weight, sign, dscale) == (1, 0, 4)
        assert digits == (1, 2345, 6789)
        # iv: micros, days, months
        (ilen,) = struct.unpack("!i", data[off:off + 4]); off += 4
        assert ilen == 16
        micros, days, months = struct.unpack("!qii", data[off:off + 16])
        assert (micros, days, months) == (2 * 3_600_000_000, 1, 0)

    def _one_binary_row(self, client, stmt_name, sql):
        ext = TestExtendedProtocol()
        ext._parse(client, stmt_name, sql)
        body = b"\x00" + stmt_name.encode() + b"\x00"
        body += struct.pack("!H", 0)
        body += struct.pack("!H", 0)
        body += struct.pack("!HH", 1, 1)      # all binary
        client.sock.sendall(b"B" + struct.pack("!I", len(body) + 4) + body)
        ext._execute(client, "")
        ext._sync(client)
        data = None
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                data = payload
            elif tag == b"Z":
                break
        return data

    def test_binary_list_of_struct(self, client, server):
        """Round-4: list-of-struct in binary result format — the reference
        encodes nested composites end-to-end (arrow-pg list_encoder.rs /
        struct_encoder.rs; fixture create_arrow_testfile.py). Decode the
        array_send-of-record_send payload field by field."""
        data = self._one_binary_row(
            client, "bf3",
            "SELECT array(named_struct('a', 1, 'b', 'x'), "
            "named_struct('a', 2, 'b', 'y')) AS ls")
        assert data is not None
        (n,) = struct.unpack("!H", data[:2])
        assert n == 1
        (alen,) = struct.unpack("!i", data[2:6])
        arr = data[6:6 + alen]
        ndim, hasnull, elem_oid, dim, lb = struct.unpack("!iiiii", arr[:20])
        assert (ndim, hasnull, elem_oid, dim, lb) == (1, 0, 2249, 2, 1)
        p = 20
        decoded = []
        for _ in range(dim):
            (el,) = struct.unpack("!i", arr[p:p + 4]); p += 4
            rec = arr[p:p + el]; p += el
            (nf,) = struct.unpack("!i", rec[:4])
            assert nf == 2
            q = 4
            oid1, l1 = struct.unpack("!ii", rec[q:q + 8]); q += 8
            (a,) = struct.unpack("!i", rec[q:q + l1]); q += l1
            oid2, l2 = struct.unpack("!ii", rec[q:q + 8]); q += 8
            s = rec[q:q + l2].decode(); q += l2
            assert (oid1, oid2) == (23, 25)
            decoded.append((a, s))
        assert decoded == [(1, "x"), (2, "y")]

    def test_binary_multidim_array(self, client, server):
        """Nested array → PG 2-D array: ndim=2, leaf element OID, leaves
        flattened row-major."""
        data = self._one_binary_row(
            client, "bf4",
            "SELECT array(array(1, 2, 3), array(4, 5, 6)) AS m")
        assert data is not None
        (alen,) = struct.unpack("!i", data[2:6])
        arr = data[6:6 + alen]
        ndim, hasnull, elem_oid = struct.unpack("!iii", arr[:12])
        d1, lb1, d2, lb2 = struct.unpack("!iiii", arr[12:28])
        assert (ndim, hasnull, elem_oid) == (2, 0, 23)
        assert (d1, lb1, d2, lb2) == (2, 1, 3, 1)
        vals, p = [], 28
        for _ in range(d1 * d2):
            (el,) = struct.unpack("!i", arr[p:p + 4]); p += 4
            (v,) = struct.unpack("!i", arr[p:p + el]); p += el
            vals.append(v)
        assert vals == [1, 2, 3, 4, 5, 6]


class TestCopyOut:
    def test_copy_query_to_stdout(self, client):
        body = ("COPY (SELECT n_nationkey, n_name FROM wnation "
                "WHERE n_nationkey < 3 ORDER BY 1) TO STDOUT").encode() + b"\x00"
        client.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        lines, tags = [], []
        saw_copy_out = saw_done = False
        while True:
            tag, payload = client.read_message()
            if tag == b"H":
                saw_copy_out = True
            elif tag == b"d":
                lines.append(payload.decode())
            elif tag == b"c":
                saw_done = True
            elif tag == b"C":
                tags.append(payload.rstrip(b"\x00").decode())
            elif tag == b"Z":
                break
        assert saw_copy_out and saw_done
        assert tags == ["COPY 3"]
        assert lines == ["0\tNATION_0\n", "1\tNATION_1\n", "2\tNATION_2\n"]

    def test_copy_csv_with_header(self, client):
        body = ("COPY (SELECT n_nationkey AS k FROM wnation WHERE "
                "n_nationkey < 2 ORDER BY 1) TO STDOUT WITH (FORMAT csv, "
                "HEADER)").encode() + b"\x00"
        client.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        lines = []
        while True:
            tag, payload = client.read_message()
            if tag == b"d":
                lines.append(payload.decode())
            elif tag == b"Z":
                break
        assert lines == ["k\n", "0\n", "1\n"]

    def test_copy_delimiter_and_null(self, client):
        # PostgreSQL 15 sends these bytes: text escapes the delimiter and
        # a tab, csv quotes what holds the delimiter or a quote
        sql = ("SELECT 1 AS k, 'a|b' AS v, CAST(NULL AS STRING) AS n, "
               "'q\"t' AS q, concat('tab', chr(9), 'x') AS t")
        for opts, want in (
                ("DELIMITER '|', NULL 'x'",
                 ["1|a\\|b|x|q\"t|tab\\tx\n"]),
                ("FORMAT csv, DELIMITER '|', NULL 'x', HEADER",
                 ["k|v|n|q|t\n", '1|"a|b"|x|"q""t"|tab\tx\n'])):
            body = f"COPY ({sql}) TO STDOUT WITH ({opts})".encode() + b"\x00"
            client.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
            lines = []
            while True:
                tag, payload = client.read_message()
                if tag == b"d":
                    lines.append(payload.decode())
                elif tag == b"Z":
                    break
            assert lines == want, opts

    def test_copy_from_view_rejected(self, client):
        res = client.query("COPY wnation FROM STDIN")
        assert res["errors"] and res["errors"][0][b"C"] == "42809"


class TestCopyIn:
    @pytest.fixture(scope="class", autouse=True)
    def target(self, client):
        client.query("DROP TABLE IF EXISTS copy_tgt")
        client.query("CREATE TABLE copy_tgt (k INT, v STRING, x DOUBLE)")
        yield
        client.query("DROP TABLE IF EXISTS copy_tgt")

    def test_copy_in_text(self, client):
        res = client.copy_in("COPY copy_tgt FROM STDIN",
                             b"1\tone\t1.5\n2\t\\N\t2.5\n")
        assert res["copy_in"] and not res["errors"]
        assert res["tags"] == ["COPY 2"]
        got = client.query("SELECT * FROM copy_tgt ORDER BY k")
        assert got["rows"] == [["1", "one", "1.5"], ["2", None, "2.5"]]

    def test_copy_in_csv_header_and_columns(self, client):
        client.query("TRUNCATE TABLE copy_tgt")
        res = client.copy_in(
            "COPY copy_tgt (v, k) FROM STDIN WITH (FORMAT csv, HEADER)",
            b'v,k\n"a,b",10\n,20\n')
        assert res["tags"] == ["COPY 2"]
        got = client.query("SELECT k, v, x FROM copy_tgt ORDER BY k")
        assert got["rows"] == [["10", "a,b", None], ["20", None, None]]

    def test_copy_in_escapes(self, client):
        client.query("TRUNCATE TABLE copy_tgt")
        res = client.copy_in("COPY copy_tgt FROM STDIN",
                             b"1\ta\\tb\\\\N\t\\N\n\\.\n9\tnot-read\t0\n")
        assert res["tags"] == ["COPY 1"]
        got = client.query("SELECT v, x FROM copy_tgt")
        assert got["rows"] == [["a\tb\\N", None]]

    def test_copy_in_binary(self, client):
        from datafusion_postgres_spark.server.copy_data import (
            COPY_BINARY_SIGNATURE)

        client.query("TRUNCATE TABLE copy_tgt")
        payload = COPY_BINARY_SIGNATURE + struct.pack("!ii", 0, 0)
        for k, v, x in [(1, b"one", 1.5), (2, None, 2.5)]:
            payload += struct.pack("!h", 3)
            payload += struct.pack("!ii", 4, k)
            if v is None:
                payload += struct.pack("!i", -1)
            else:
                payload += struct.pack("!i", len(v)) + v
            payload += struct.pack("!i", 8) + struct.pack("!d", x)
        payload += struct.pack("!h", -1)
        res = client.copy_in(
            "COPY copy_tgt FROM STDIN WITH (FORMAT binary)", payload)
        assert res["tags"] == ["COPY 2"], res
        got = client.query("SELECT * FROM copy_tgt ORDER BY k")
        assert got["rows"] == [["1", "one", "1.5"], ["2", None, "2.5"]]

    def test_copy_out_binary_round_trip(self, client):
        from datafusion_postgres_spark.server.copy_data import (
            COPY_BINARY_SIGNATURE, parse_copy_binary)
        from pyspark.sql import types as T

        client.query(  # self-sufficient under -k selection
            "CREATE OR REPLACE TEMPORARY VIEW wnation AS "
            "SELECT * FROM parquet.`/root/testdata/sf0.001/nation.parquet`")
        body = ("COPY (SELECT n_nationkey, n_name FROM wnation "
                "WHERE n_nationkey < 3 ORDER BY 1) TO STDOUT "
                "WITH (FORMAT binary)").encode() + b"\x00"
        client.sock.sendall(b"Q" + struct.pack("!I", len(body) + 4) + body)
        chunks, fmts = [], None
        while True:
            tag, payload = client.read_message()
            if tag == b"H":
                overall, ncols = struct.unpack("!bH", payload[:3])
                fmts = struct.unpack(f"!{ncols}H", payload[3:3 + 2 * ncols])
                assert overall == 1 and fmts == (1, 1)
            elif tag == b"d":
                chunks.append(payload)
            elif tag == b"Z":
                break
        data = b"".join(chunks)
        assert data.startswith(COPY_BINARY_SIGNATURE)
        rows = parse_copy_binary(data, [T.IntegerType(), T.StringType()])
        assert rows == [(0, "NATION_0"), (1, "NATION_1"), (2, "NATION_2")]

    def test_copy_fail_message(self, client):
        client.query("TRUNCATE TABLE copy_tgt")
        res = client.copy_in("COPY copy_tgt FROM STDIN", fail="client bail")
        assert res["errors"] and res["errors"][0][b"C"] == "57014"
        got = client.query("SELECT count(*) FROM copy_tgt")
        assert got["rows"] == [["0"]]

    @pytest.mark.parametrize("fmt", ["text", "binary"])
    def test_copy_staged_as_arrow_table(self, client, monkeypatch, fmt):
        # COPY input is staged as an Arrow local relation, never as a
        # list of rows (a Python-RDD scan)
        import pyarrow as pa
        from pyspark.sql import SparkSession

        from datafusion_postgres_spark.server.copy_data import (
            COPY_BINARY_SIGNATURE)

        staged = []
        create = SparkSession.createDataFrame

        def spy(self, data, *args, **kwargs):
            staged.append(type(data))
            return create(self, data, *args, **kwargs)
        monkeypatch.setattr(SparkSession, "createDataFrame", spy)
        client.query("TRUNCATE TABLE copy_tgt")
        if fmt == "text":
            payload, opts = b"3\tthree\t3.5\n", ""
        else:
            payload = (COPY_BINARY_SIGNATURE + struct.pack("!ii", 0, 0) +
                       struct.pack("!hii", 3, 4, 3) +
                       struct.pack("!i", 5) + b"three" +
                       struct.pack("!id", 8, 3.5) + struct.pack("!h", -1))
            opts = " WITH (FORMAT binary)"
        res = client.copy_in(f"COPY copy_tgt FROM STDIN{opts}", payload)
        assert res["tags"] == ["COPY 1"], res
        assert staged == [pa.Table]
        got = client.query("SELECT * FROM copy_tgt")
        assert got["rows"] == [["3", "three", "3.5"]]

    def test_copy_in_bad_column_count(self, client):
        res = client.copy_in("COPY copy_tgt FROM STDIN", b"1\tonly-two\n")
        assert res["errors"] and res["errors"][0][b"C"] == "22P04"

    def test_copy_in_unknown_table(self, client):
        res = client.query("COPY no_such_tbl FROM STDIN")
        assert res["errors"]


class TestCopyBinaryBounds:
    """parse_copy_binary must surface malformed payloads as CopyDataError
    (the module's typed wire error), never a raw struct.error."""

    def _valid(self):
        import struct

        from pyspark.sql import types as T

        from datafusion_postgres_spark.server.copy_data import (
            COPY_BINARY_SIGNATURE)
        body = COPY_BINARY_SIGNATURE + struct.pack("!ii", 0, 0)
        body += struct.pack("!h", 2)                       # one row, 2 cols
        body += struct.pack("!i", 4) + struct.pack("!i", 7)
        body += struct.pack("!i", 2) + b"ok"
        body += struct.pack("!h", -1)                      # trailer
        return body, [T.IntegerType(), T.StringType()]

    def test_valid_round_trip(self):
        from datafusion_postgres_spark.server.copy_data import (
            parse_copy_binary)
        data, dts = self._valid()
        assert parse_copy_binary(data, dts) == [(7, "ok")]

    @pytest.mark.parametrize("cut", [1, 3, 5, 7, 9])
    def test_truncated_raises_typed_error(self, cut):
        from datafusion_postgres_spark.server.copy_data import (
            CopyDataError, parse_copy_binary)
        data, dts = self._valid()
        trunc = data[:len(data) - 4 - cut]    # drop trailer + cut bytes
        try:
            parse_copy_binary(trunc, dts)
        except CopyDataError:
            pass  # the typed error — correct
        # silent short-parse of a fully-formed prefix is also acceptable;
        # struct.error propagating is NOT
        except Exception as exc:  # pragma: no cover
            pytest.fail(f"untyped error leaked: {type(exc).__name__}: {exc}")

    def test_negative_field_length_rejected(self):
        import struct

        from pyspark.sql import types as T

        from datafusion_postgres_spark.server.copy_data import (
            COPY_BINARY_SIGNATURE, CopyDataError, parse_copy_binary)
        body = COPY_BINARY_SIGNATURE + struct.pack("!ii", 0, 0)
        body += struct.pack("!h", 1) + struct.pack("!i", -7)
        with pytest.raises(CopyDataError):
            parse_copy_binary(body, [T.IntegerType()])


def _frame(client, tag, body):
    client.sock.sendall(tag + struct.pack("!I", len(body) + 4) + body)


def _until_ready(client):
    msgs = []
    while True:
        tag, payload = client.read_message()
        if tag == b"S":
            k, v = payload.split(b"\x00")[:2]
            client.params[k.decode()] = v.decode()
        msgs.append((tag, payload))
        if tag == b"Z":
            return msgs


def _extended(client, sql, params=(), result_format=None, describe=False):
    """Parse/Bind (text params, one optional result-format code)/
    [Describe portal]/Execute/Sync on the unnamed portal."""
    _frame(client, b"P", b"\x00" + sql.encode() + b"\x00" + b"\x00\x00")
    body = b"\x00\x00" + struct.pack("!HH", 0, len(params))
    for p in params:
        body += struct.pack("!I", len(p)) + p.encode()
    body += (struct.pack("!H", 0) if result_format is None
             else struct.pack("!HH", 1, result_format))
    _frame(client, b"B", body)
    if describe:
        _frame(client, b"D", b"P\x00")
    _frame(client, b"E", b"\x00" + struct.pack("!I", 0))
    _frame(client, b"S", b"")
    return _until_ready(client)


def _tags(msgs):
    return [p.rstrip(b"\x00").decode() for t, p in msgs if t == b"C"]


def _text_cells(payload):
    (n,) = struct.unpack("!H", payload[:2])
    off, out = 2, []
    for _ in range(n):
        (ln,) = struct.unpack("!i", payload[off:off + 4])
        off += 4
        out.append(None if ln < 0 else payload[off:off + ln])
        off += max(ln, 0)
    return out


def _row_desc(payload):
    """RowDescription -> [(name, type oid, format code)]."""
    (n,) = struct.unpack("!H", payload[:2])
    off, out = 2, []
    for _ in range(n):
        end = payload.index(b"\x00", off)
        _tbl, _att, oid, _len, _mod, fmt = struct.unpack(
            "!IhIhih", payload[end + 1:end + 19])
        out.append((payload[off:end].decode(), oid, fmt))
        off = end + 19
    return out


class TestProtocolsAgree:
    """Q and Parse/Bind/Execute share one statement lifecycle and one
    result writer, so a statement answers the same over both."""

    def test_parameterized_pg_class_sees_new_view(self, client):
        client.query("SELECT count(*) FROM pg_catalog.pg_class")  # refreshed
        client.query("CREATE OR REPLACE TEMP VIEW zz_agree_new AS SELECT 1 AS a")
        sql = ("SELECT count(*) AS n FROM pg_catalog.pg_class "
               "WHERE relname = $1")
        msgs = _extended(client, sql, ["zz_agree_new"])
        rows = [_text_cells(p) for t, p in msgs if t == b"D"]
        assert rows == [[b"1"]]
        simple = client.query(sql.replace("$1", "'zz_agree_new'"))
        assert simple["rows"] == [["1"]]

    def test_parameterized_create_view_tag(self, client):
        msgs = _extended(
            client, "CREATE OR REPLACE TEMP VIEW zz_agree_pv AS "
                    "SELECT CAST($1 AS INT) AS x", ["5"])
        assert _tags(msgs) == ["CREATE VIEW"]
        assert client.query("SELECT x FROM zz_agree_pv")["rows"] == [["5"]]

    def test_set_through_execute_sends_parameter_status(self, client):
        try:
            msgs = _extended(client, "SET TIME ZONE 'America/Denver'")
            assert _tags(msgs) == ["SET"]
            status = [p.split(b"\x00")[:2] for t, p in msgs if t == b"S"]
            assert [b"TimeZone", b"America/Denver"] in status
        finally:
            client.query("SET TIME ZONE 'UTC'")

    def test_portal_describe_reports_result_formats(self, client):
        sql = "SELECT 258 AS i, 'x' AS s, map('k', 1) AS m"
        msgs = _extended(client, sql, result_format=1, describe=True)
        (desc,) = [_row_desc(p) for t, p in msgs if t == b"T"]
        # int and text go binary; the map has no binary encoder: text
        assert [fmt for _, _, fmt in desc] == [1, 1, 0]
        (row,) = [_text_cells(p) for t, p in msgs if t == b"D"]
        assert row == [struct.pack("!i", 258), b"x", b'{"k":1}']
        # a statement Describe knows no result formats yet: all text
        _frame(client, b"P", b"stfmt\x00" + sql.encode() + b"\x00\x00\x00")
        _frame(client, b"D", b"Sstfmt\x00")
        _frame(client, b"S", b"")
        (desc,) = [_row_desc(p) for t, p in _until_ready(client)
                   if t == b"T"]
        assert [fmt for _, _, fmt in desc] == [0, 0, 0]

    @pytest.mark.parametrize("sql", ["EXPLAIN SELECT 1",
                                     "EXPLAIN ANALYZE SELECT 1"])
    def test_explain_describe_matches_execute(self, client, sql):
        _frame(client, b"P", b"\x00" + sql.encode() + b"\x00\x00\x00")
        _frame(client, b"D", b"S\x00")
        _frame(client, b"B", b"\x00\x00" + struct.pack("!HHH", 0, 0, 0))
        _frame(client, b"E", b"\x00" + struct.pack("!I", 0))
        _frame(client, b"S", b"")
        msgs = _until_ready(client)
        assert not [t for t, _ in msgs if t in (b"E", b"n")]
        (desc,) = [_row_desc(p) for t, p in msgs if t == b"T"]
        assert desc == [("QUERY PLAN", 25, 0)]
        rows = [_text_cells(p) for t, p in msgs if t == b"D"]
        assert rows and all(len(r) == 1 for r in rows)
        assert _tags(msgs) == ["EXPLAIN"]

    def test_describe_unknown_portal(self, client):
        _frame(client, b"D", b"Pno_such_portal\x00")
        _frame(client, b"S", b"")
        msgs = _until_ready(client)
        (err,) = [{f[:1]: f[1:].decode() for f in p.split(b"\x00") if f}
                  for t, p in msgs if t == b"E"]
        assert err[b"C"] == "34000"
        assert err[b"M"] == 'portal "no_such_portal" does not exist'
        assert not [t for t, _ in msgs if t in (b"T", b"n")]


class TestHeldRows:
    """SHOW, SHOW ALL, FETCH, set_config and EXPLAIN ANALYZE answer from
    rows the driver holds: no DataFrame is built for them."""

    STATEMENTS = ["SET application_name = 'shown'; SHOW application_name",
                  "SHOW ALL",
                  "SELECT set_config('application_name', 'held', false)",
                  "BEGIN; DECLARE held_cur CURSOR FOR SELECT id FROM "
                  "range(5) ORDER BY id; FETCH 2 FROM held_cur; "
                  "FETCH ALL FROM held_cur; CLOSE held_cur; COMMIT"]

    def test_no_create_dataframe(self, client, monkeypatch):
        from pyspark.sql import SparkSession

        want = [client.query(sql) for sql in self.STATEMENTS]

        def refuse(*_a, **_k):
            raise AssertionError("createDataFrame called")
        monkeypatch.setattr(SparkSession, "createDataFrame", refuse)
        got = [client.query(sql) for sql in self.STATEMENTS]
        for w, g in zip(want, got):
            assert not g["errors"]
            assert (g["cols"], g["rows"], g["tags"]) == \
                (w["cols"], w["rows"], w["tags"])
        assert got[0]["rows"] == [["shown"]]
        assert ["application_name", "shown", ""] in got[1]["rows"]
        assert got[2]["rows"] == [["held"]]
        assert got[3]["rows"] == [["0"], ["1"], ["2"], ["3"], ["4"]]
        assert got[3]["tags"][2:4] == ["FETCH 2", "FETCH 3"]
        plan = client.query("EXPLAIN ANALYZE SELECT 1 AS one")
        assert not plan["errors"] and plan["cols"] == ["QUERY PLAN"]
        assert plan["rows"][-1] == ["Actual Rows: 1"]


@pytest.fixture
def new_york_tz(monkeypatch):
    """The server's OS time zone set to America/New_York (the session's
    TimeZone stays UTC), restored afterwards."""
    import time

    monkeypatch.setenv("TZ", "America/New_York")
    time.tzset()
    yield
    monkeypatch.undo()
    time.tzset()


class TestTimestampZone:
    """A TIMESTAMP goes out as the UTC instant Spark holds, whatever the
    server process's OS time zone."""

    def test_wire_value_ignores_os_time_zone(self, client, new_york_tz):
        from datetime import datetime, timedelta

        ts = "TIMESTAMP '2024-01-02 03:04:05'"
        res = client.query(f"SELECT {ts} AS t, CAST({ts} AS STRING) AS s")
        assert res["rows"] == [["2024-01-02 03:04:05+00",
                                "2024-01-02 03:04:05"]]
        msgs = _extended(client, f"SELECT {ts} AS t, array({ts}) AS a",
                         result_format=1)
        (row,) = [_text_cells(p) for t, p in msgs if t == b"D"]
        micros = (datetime(2024, 1, 2, 3, 4, 5) - datetime(2000, 1, 1)) \
            // timedelta(microseconds=1)
        assert row[0] == struct.pack("!q", micros)
        # one-element array: header, then the element's length and value
        assert row[1].endswith(struct.pack("!iq", 8, micros))


def _execute_pieces(client, portal: str, max_rows: int) -> list:
    """Execute a bound portal ``max_rows`` rows at a time until it
    completes: [(DataRow payloads, "suspended" or the CommandComplete
    tag)] per Execute."""
    pieces = []
    while True:
        _frame(client, b"E", portal.encode() + b"\x00" +
               struct.pack("!I", max_rows))
        _frame(client, b"H", b"")
        rows = []
        while True:
            tag, payload = client.read_message()
            if tag == b"D":
                rows.append(payload)
            elif tag == b"s":
                pieces.append((rows, "suspended"))
                break
            elif tag == b"C":
                pieces.append((rows, payload.rstrip(b"\x00").decode()))
                return pieces
            elif tag == b"E":
                raise AssertionError(payload)


class TestChunkedPortals:
    """Rows go out a chunk at a time; a portal's max_rows cuts across
    Arrow batches and writer chunks without losing or repeating a row."""

    # two partitions of 12,500 rows: two Arrow batches each at the default
    # 10,000 rows per batch, and more than one 4,096-row chunk
    SQL = "SELECT id, CAST(id * 3 AS STRING) AS s FROM range(0, 25000, 1, 2)"
    N = 25000

    def _bind(self, client, portal, sql):
        _frame(client, b"P", portal.encode() + b"\x00" + sql.encode() +
               b"\x00\x00\x00")
        _frame(client, b"B", portal.encode() + b"\x00" + portal.encode() +
               b"\x00" + struct.pack("!HHH", 0, 0, 0))

    def test_result_spans_batches(self, spark):
        from datafusion_postgres_spark.session import arrow_batches

        sizes = [b.num_rows for b in arrow_batches(spark.sql(self.SQL))]
        assert len(sizes) > 2 and sum(sizes) == self.N
        assert max(sizes) > 4096  # a batch spans several writer chunks

    @pytest.mark.parametrize("max_rows", [7, 4097])
    def test_pieces_equal_simple_query(self, client, max_rows):
        simple = client.query(self.SQL)
        assert simple["tags"] == [f"SELECT {self.N}"]
        self._bind(client, "chunked", self.SQL)
        pieces = _execute_pieces(client, "chunked", max_rows)
        _frame(client, b"S", b"")
        assert [t for t, _ in _until_ready(client)] == [b"Z"]
        *suspended, (last_rows, tag) = pieces
        assert all(len(rows) == max_rows and how == "suspended"
                   for rows, how in suspended)
        assert len(suspended) == self.N // max_rows
        assert len(last_rows) == self.N % max_rows
        assert tag == f"SELECT {self.N}"
        got = [[c.decode() for c in _text_cells(p)]
               for rows, _ in pieces for p in rows]
        assert got == simple["rows"]

    def test_close_mid_portal_then_new_statement(self, client):
        self._bind(client, "half", self.SQL)
        _frame(client, b"E", b"half\x00" + struct.pack("!I", 4097))
        _frame(client, b"C", b"Phalf\x00")
        _frame(client, b"S", b"")
        msgs = _until_ready(client)
        assert [t for t, _ in msgs] == \
            [b"1", b"2"] + [b"D"] * 4097 + [b"s", b"3", b"Z"]
        assert client.query("SELECT 41 + 1 AS x")["rows"] == [["42"]]
        _frame(client, b"E", b"half\x00" + struct.pack("!I", 0))
        _frame(client, b"S", b"")
        (err,) = [p for t, p in _until_ready(client) if t == b"E"]
        assert b"C34000" in err

    def test_zero_rows_and_empty_query(self, client):
        empty = "SELECT id FROM range(0)"
        self._bind(client, "none", empty)
        assert _execute_pieces(client, "none", 7) == [([], "SELECT 0")]
        _frame(client, b"S", b"")
        _until_ready(client)
        res = client.query(empty)
        assert res["cols"] == ["id"] and res["rows"] == []
        assert res["tags"] == ["SELECT 0"]
        _frame(client, b"Q", b"\x00")
        assert [t for t, _ in _until_ready(client)] == [b"I", b"Z"]


class _CountingSock:
    """The accepted socket, with every ``sendall`` recorded."""

    def __init__(self, sock, writes):
        self._sock, self._writes = sock, writes

    def sendall(self, data):
        self._writes.append(bytes(data))
        return self._sock.sendall(data)

    def __getattr__(self, name):
        return getattr(self._sock, name)


@pytest.fixture
def watched(server, monkeypatch):
    """A fresh connection whose server side records the TCP_NODELAY
    option of its socket and every write made on it."""
    from datafusion_postgres_spark.server import pgwire

    seen = {"writes": []}
    main_loop = pgwire._Conn._main_loop

    def recording_main_loop(self):
        seen["nodelay"] = self.sock.getsockopt(socket.IPPROTO_TCP,
                                               socket.TCP_NODELAY)
        self.sock = _CountingSock(self.sock, seen["writes"])
        return main_loop(self)

    monkeypatch.setattr(pgwire._Conn, "_main_loop", recording_main_loop)
    c = MiniPgClient(server.host, server.port)
    c.sock.settimeout(20)  # a response left unflushed fails, not hangs
    c.query("SELECT 1")
    yield c, seen
    c.close()


def _tag_seq(data: bytes) -> list:
    """The message tags in one buffer of backend messages."""
    tags, off = [], 0
    while off < len(data):
        (length,) = struct.unpack("!I", data[off + 1:off + 5])
        tags.append(data[off:off + 1])
        off += 1 + length
    return tags


class TestFlushRule:
    """A response leaves in one write when the server is about to wait
    for the client, so no small write waits on a delayed ACK."""

    def test_accepted_socket_sets_nodelay(self, watched):
        _client, seen = watched
        assert seen["nodelay"]

    @pytest.mark.parametrize("sql,tags", [
        ("SHOW TimeZone", [b"T", b"D", b"C", b"Z"]),
        ("BEGIN", [b"C", b"Z"]),
        ("COMMIT", [b"C", b"Z"]),
        ("SET TimeZone = 'UTC'", None),
    ])
    def test_response_is_one_write(self, watched, sql, tags):
        client, seen = watched
        seen["writes"].clear()
        res = client.query(sql)
        assert not res["errors"]
        (data,) = seen["writes"]
        got = _tag_seq(data)
        if tags is None:  # CommandComplete, ParameterStatus..., Ready
            assert got[0] == b"C" and got[-1] == b"Z"
            assert len(got) > 2 and set(got[1:-1]) == {b"S"}
        else:
            assert got == tags

    def test_pipelined_batch_in_one_client_write(self, watched):
        client, seen = watched
        sql = b"SELECT 6 * 7 AS x"
        frames = [(b"P", b"\x00" + sql + b"\x00\x00\x00"),
                  (b"B", b"\x00\x00" + struct.pack("!HHH", 0, 0, 0)),
                  (b"D", b"P\x00"),
                  (b"E", b"\x00" + struct.pack("!I", 0)),
                  (b"S", b"")]
        seen["writes"].clear()
        client.sock.sendall(b"".join(
            tag + struct.pack("!I", len(body) + 4) + body
            for tag, body in frames))
        msgs = _until_ready(client)
        assert [t for t, _ in msgs] == [b"1", b"2", b"T", b"D", b"C", b"Z"]
        assert _text_cells(msgs[3][1]) == [b"42"]
        assert len(seen["writes"]) == 1

    def test_execute_then_flush_without_sync(self, watched):
        client, _seen = watched
        _frame(client, b"P", b"fl\x00SELECT id FROM range(3)\x00\x00\x00")
        _frame(client, b"B", b"fl\x00fl\x00" + struct.pack("!HHH", 0, 0, 0))
        _frame(client, b"E", b"fl\x00" + struct.pack("!I", 0))
        _frame(client, b"H", b"")
        tags = []
        while not tags or tags[-1] != b"C":
            tags.append(client.read_message()[0])
        assert tags == [b"1", b"2", b"D", b"D", b"D", b"C"]
        _frame(client, b"S", b"")
        assert [t for t, _ in _until_ready(client)] == [b"Z"]

    def test_copy_in_response_precedes_the_data(self, watched):
        client, _seen = watched
        client.query("DROP TABLE IF EXISTS zz_flush_copy")
        client.query("CREATE TABLE zz_flush_copy (a INT)")
        try:
            _frame(client, b"Q", b"COPY zz_flush_copy FROM STDIN\x00")
            tag, _payload = client.read_message()  # before any CopyData
            assert tag == b"G"
            _frame(client, b"d", b"5\n")
            _frame(client, b"c", b"")
            assert _tags(_until_ready(client)) == ["COPY 1"]
        finally:
            client.query("DROP TABLE IF EXISTS zz_flush_copy")

    def test_failed_password_delivers_error(self, spark):
        from datafusion_postgres_spark.server.auth import AuthManager, User

        auth = AuthManager()
        auth.add_user(User("flushuser", password="right"))
        srv = PgWireServer(spark, port=0, password_mode="password",
                           auth=auth)
        srv.start_background()
        try:
            c = MiniPgClient.__new__(MiniPgClient)
            c.sock = socket.create_connection((srv.host, srv.port),
                                              timeout=20)
            c.buf = b""
            body = (struct.pack("!I", 196608) +
                    b"user\x00flushuser\x00database\x00postgres\x00\x00")
            c.sock.sendall(struct.pack("!I", len(body) + 4) + body)
            assert c.read_message() == (b"R", struct.pack("!I", 3))
            _frame(c, b"p", b"wrong\x00")
            tag, payload = c.read_message()
            assert tag == b"E" and b"C28P01" in payload
            with pytest.raises(ConnectionError):
                c.read_message()  # then the server closes
            c.sock.close()
        finally:
            srv.shutdown()

    def test_failed_password_error_is_fatal(self, spark):
        """The server closes the connection after a failed password, so
        the ErrorResponse's severity is FATAL, not ERROR."""
        from datafusion_postgres_spark.server.auth import AuthManager, User

        auth = AuthManager()
        auth.add_user(User("fataluser", password="right"))
        srv = PgWireServer(spark, port=0, password_mode="password",
                           auth=auth)
        srv.start_background()
        try:
            c = MiniPgClient.__new__(MiniPgClient)
            c.sock = socket.create_connection((srv.host, srv.port),
                                              timeout=20)
            c.buf = b""
            body = (struct.pack("!I", 196608) +
                    b"user\x00fataluser\x00database\x00postgres\x00\x00")
            c.sock.sendall(struct.pack("!I", len(body) + 4) + body)
            c.read_message()  # AuthenticationCleartextPassword
            _frame(c, b"p", b"wrong\x00")
            tag, payload = c.read_message()
            assert tag == b"E"
            fields = payload.split(b"\x00")
            assert b"SFATAL" in fields and b"VFATAL" in fields
            assert b"C28P01" in fields
            c.sock.close()
        finally:
            srv.shutdown()

    def test_begin_commit_round_trip_has_no_ack_stall(self, watched):
        import statistics
        import time

        client, _seen = watched
        times = []
        for _ in range(20):
            t0 = time.perf_counter()
            client.query("BEGIN")
            client.query("COMMIT")
            times.append((time.perf_counter() - t0) * 1000.0)
        # a delayed-ACK stall costs about 40 ms per statement
        assert statistics.median(times) < 20.0


@pytest.fixture
def result_socks(monkeypatch):
    """Every (file, socket) pair the driver opens to read a result from
    the JVM."""
    import pyspark.util

    opened = []
    connect = pyspark.util.local_connect_and_auth

    def recording(*args):
        pair = connect(*args)
        opened.append(pair)
        return pair

    monkeypatch.setattr(pyspark.util, "local_connect_and_auth", recording)
    return opened


class TestFetchPath:
    """``session.arrow_batches``: one job and one result socket per
    partition, closed when the consumer stops early."""

    SQL = "SELECT id FROM range(0, 30000, 1, 3)"

    @pytest.mark.parametrize("sql,parts", [
        ("SELECT id FROM range(0)", 0),
        ("SELECT id FROM range(0, 10, 1, 4) WHERE id > 7", 4),
        ("SELECT id, CAST(id AS STRING) AS s FROM range(0, 3000, 1, 3)", 3),
    ], ids=["no_partitions", "empty_partitions", "several_partitions"])
    def test_rows_equal_collect(self, spark, sql, parts):
        from datafusion_postgres_spark.session import ExecutionResult

        df = spark.sql(sql)
        assert df._jdf.toArrowBatchRdd().getNumPartitions() == parts
        assert list(ExecutionResult(df=df).rows()) == df.collect()

    def test_portal_closed_mid_result_closes_its_socket(self, client,
                                                        result_socks):
        _frame(client, b"P", b"mid\x00" + self.SQL.encode() + b"\x00\x00\x00")
        _frame(client, b"B", b"mid\x00mid\x00" + struct.pack("!HHH", 0, 0, 0))
        _frame(client, b"E", b"mid\x00" + struct.pack("!I", 10))
        _frame(client, b"H", b"")
        tags = []
        while not tags or tags[-1] != b"s":
            tags.append(client.read_message()[0])
        assert tags == [b"1", b"2"] + [b"D"] * 10 + [b"s"]
        assert [sock.fileno() != -1 for _f, sock in result_socks] == [True]
        _frame(client, b"C", b"Pmid\x00")
        _frame(client, b"S", b"")
        assert [t for t, _ in _until_ready(client)] == [b"3", b"Z"]
        (sockfile, sock), = result_socks
        assert sockfile.closed and sock.fileno() == -1

    def test_cursor_closed_mid_result_closes_its_socket(self, client,
                                                        result_socks):
        client.query(f"DECLARE zz_mid CURSOR FOR {self.SQL}")
        assert len(client.query("FETCH 5 FROM zz_mid")["rows"]) == 5
        assert [sock.fileno() != -1 for _f, sock in result_socks] == [True]
        assert client.query("CLOSE zz_mid")["tags"] == ["CLOSE CURSOR"]
        (sockfile, sock), = result_socks
        assert sockfile.closed and sock.fileno() == -1
