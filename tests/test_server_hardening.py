"""Round-2 server hardening: extended-protocol lifecycle (RBAC, failed-txn
guard, DML tags, describe-without-execute, error-discard-until-Sync),
MD5/SCRAM wire auth, CancelRequest -> job-group cancellation, interval
encoding, cleartext None-password rejection, avro fallback reader."""

import base64
import hashlib
import hmac
import socket
import struct
import threading
import time
from datetime import timedelta

import pytest

from datafusion_postgres_spark.server.auth import (
    AuthManager, ScramServer, User, verify_cleartext,
)
from datafusion_postgres_spark.server.encoder import _encode_interval
from datafusion_postgres_spark.server.pgwire import PgWireServer


# ---------------------------------------------------------------------------
# unit: interval encoding / auth primitives

class TestIntervalEncoding:
    def test_negative_subsecond(self):
        assert _encode_interval(timedelta(seconds=-0.5)) == "-00:00:00.5"

    def test_negative_one_and_a_half(self):
        assert _encode_interval(timedelta(seconds=-1.5)) == "-00:00:01.5"

    def test_positive_day_time(self):
        assert _encode_interval(
            timedelta(days=1, hours=2, minutes=3, seconds=4.5)) == \
            "1 day 02:03:04.5"

    def test_zero(self):
        assert _encode_interval(timedelta()) == "00:00:00"

    def test_negative_days(self):
        assert _encode_interval(timedelta(days=-2, hours=-3)) == \
            "-2 days -03:00:00"


class TestCleartextAuth:
    def test_none_password_rejected(self):
        auth = AuthManager()  # default postgres user has password=None
        assert not verify_cleartext(auth, "postgres", "anything")
        assert not verify_cleartext(auth, "postgres", "")

    def test_correct_password_accepted(self):
        auth = AuthManager()
        auth.add_user(User("alice", password="s3cret"))
        assert verify_cleartext(auth, "alice", "s3cret")
        assert not verify_cleartext(auth, "alice", "wrong")


class TestScramUnit:
    def _client_final(self, password, server_first, cnonce, bare):
        attrs = dict(p.split("=", 1) for p in server_first.split(","))
        salt = base64.b64decode(attrs["s"])
        iters = int(attrs["i"])
        nonce = attrs["r"]
        assert nonce.startswith(cnonce)
        salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt, iters)
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored = hashlib.sha256(client_key).digest()
        wo_proof = f"c=biws,r={nonce}"
        auth_msg = f"{bare},{server_first},{wo_proof}"
        sig = hmac.new(stored, auth_msg.encode(), hashlib.sha256).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, sig))
        server_key = hmac.new(salted, b"Server Key", hashlib.sha256).digest()
        expect_v = base64.b64encode(
            hmac.new(server_key, auth_msg.encode(),
                     hashlib.sha256).digest()).decode()
        return wo_proof + ",p=" + base64.b64encode(proof).decode(), expect_v

    def test_full_handshake(self):
        scram = ScramServer("alice", "s3cret")
        bare = "n=,r=clientnonce123"
        server_first = scram.handle_client_first("n,," + bare)
        final, expect_v = self._client_final("s3cret", server_first,
                                             "clientnonce123", bare)
        assert scram.handle_client_final(final) == "v=" + expect_v

    def test_wrong_password_rejected(self):
        scram = ScramServer("alice", "s3cret")
        bare = "n=,r=clientnonce123"
        server_first = scram.handle_client_first("n,," + bare)
        final, _ = self._client_final("WRONG", server_first,
                                      "clientnonce123", bare)
        with pytest.raises(ValueError):
            scram.handle_client_final(final)

    def test_channel_binding_rejected(self):
        scram = ScramServer("alice", "pw")
        with pytest.raises(ValueError):
            scram.handle_client_first("p=tls-server-end-point,,n=,r=x")


# ---------------------------------------------------------------------------
# frame-level client speaking md5/scram + extended protocol

def _msg(tag, payload):
    return tag + struct.pack("!I", len(payload) + 4) + payload


class RawClient:
    def __init__(self, host, port, user="postgres"):
        self.sock = socket.create_connection((host, port), timeout=120)
        self.buf = b""
        payload = struct.pack("!I", 196608)
        payload += b"user\x00" + user.encode() + b"\x00"
        payload += b"database\x00postgres\x00\x00"
        self.sock.sendall(struct.pack("!I", len(payload) + 4) + payload)
        self.user = user
        self.backend_key = None

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

    def send(self, tag, payload):
        self.sock.sendall(_msg(tag, payload))

    def auth_md5(self, password):
        tag, payload = self.read_message()
        assert tag == b"R"
        (code,) = struct.unpack("!I", payload[:4])
        assert code == 5, f"expected MD5 request, got {code}"
        salt = payload[4:8]
        inner = hashlib.md5((password + self.user).encode()).hexdigest()
        resp = "md5" + hashlib.md5(inner.encode() + salt).hexdigest()
        self.send(b"p", resp.encode() + b"\x00")
        return self.drain_startup()

    def auth_scram(self, password):
        tag, payload = self.read_message()
        assert tag == b"R"
        (code,) = struct.unpack("!I", payload[:4])
        assert code == 10
        assert b"SCRAM-SHA-256" in payload
        cnonce = "testnonce" + base64.b64encode(b"abc").decode()
        bare = f"n=,r={cnonce}"
        cf = ("n,," + bare).encode()
        body = b"SCRAM-SHA-256\x00" + struct.pack("!i", len(cf)) + cf
        self.send(b"p", body)
        tag, payload = self.read_message()
        if tag == b"E":
            return False
        (code,) = struct.unpack("!I", payload[:4])
        assert code == 11
        server_first = payload[4:].decode()
        attrs = dict(p.split("=", 1) for p in server_first.split(","))
        salt = base64.b64decode(attrs["s"])
        salted = hashlib.pbkdf2_hmac("sha256", password.encode(), salt,
                                     int(attrs["i"]))
        client_key = hmac.new(salted, b"Client Key", hashlib.sha256).digest()
        stored = hashlib.sha256(client_key).digest()
        wo_proof = f"c=biws,r={attrs['r']}"
        auth_msg = f"{bare},{server_first},{wo_proof}"
        sig = hmac.new(stored, auth_msg.encode(), hashlib.sha256).digest()
        proof = bytes(a ^ b for a, b in zip(client_key, sig))
        self.send(b"p", (wo_proof + ",p=" +
                         base64.b64encode(proof).decode()).encode())
        tag, payload = self.read_message()
        if tag == b"E":
            return False
        (code,) = struct.unpack("!I", payload[:4])
        assert code == 12 and payload[4:6] == b"v="
        return self.drain_startup()

    def drain_startup(self):
        """Consume AuthOk/ParameterStatus/BackendKeyData to ReadyForQuery."""
        while True:
            tag, payload = self.read_message()
            if tag == b"E":
                return False
            if tag == b"K":
                self.backend_key = struct.unpack("!II", payload)
            if tag == b"Z":
                return True

    def query(self, sql):
        self.send(b"Q", sql.encode() + b"\x00")
        out = {"rows": [], "tags": [], "errors": []}
        while True:
            tag, payload = self.read_message()
            if tag == b"D":
                out["rows"].append(payload)
            elif tag == b"C":
                out["tags"].append(payload.rstrip(b"\x00").decode())
            elif tag == b"E":
                out["errors"].append(
                    {p[:1]: p[1:].decode() for p in payload.split(b"\x00")
                     if p})
            elif tag == b"Z":
                return out

    def close(self):
        try:
            self.send(b"X", b"")
            self.sock.close()
        except OSError:
            pass


class TestWireAuth:
    def test_md5_roundtrip_and_reject(self, spark):
        auth = AuthManager()
        auth.add_user(User("md5user", password="pw1"))
        srv = PgWireServer(spark, port=0, password_mode="md5", auth=auth)
        srv.start_background()
        try:
            c = RawClient(srv.host, srv.port, user="md5user")
            assert c.auth_md5("pw1")
            assert c.query("SELECT 1 AS x")["tags"] == ["SELECT 1"]
            c.close()
            bad = RawClient(srv.host, srv.port, user="md5user")
            assert not bad.auth_md5("wrong")
        finally:
            srv.shutdown()

    def test_scram_roundtrip_and_reject(self, spark):
        auth = AuthManager()
        auth.add_user(User("scramuser", password="pw2"))
        srv = PgWireServer(spark, port=0, password_mode="scram-sha-256",
                           auth=auth)
        srv.start_background()
        try:
            c = RawClient(srv.host, srv.port, user="scramuser")
            assert c.auth_scram("pw2")
            assert c.query("SELECT 2 AS x")["tags"] == ["SELECT 1"]
            c.close()
            bad = RawClient(srv.host, srv.port, user="scramuser")
            assert not bad.auth_scram("nope")
        finally:
            srv.shutdown()


class TestCancelRequest:
    def test_cancel_running_statement(self, spark):
        srv = PgWireServer(spark, port=0)
        srv.start_background()
        try:
            c = RawClient(srv.host, srv.port)
            assert c.drain_startup()
            assert c.backend_key is not None
            pid, secret = c.backend_key

            result = {}

            def run():
                result.update(c.query(
                    "SELECT MAX(a.id * b.id) FROM range(300000) a "
                    "CROSS JOIN range(300000) b"))

            t = threading.Thread(target=run)
            t.start()
            time.sleep(2.0)  # let the job start
            cancel = socket.create_connection((srv.host, srv.port),
                                              timeout=30)
            body = struct.pack("!III", 16, 80877102, pid) + \
                struct.pack("!I", secret)
            cancel.sendall(body)
            cancel.close()
            t.join(timeout=90)
            assert not t.is_alive(), "statement was not cancelled"
            assert result["errors"], "expected an error after cancellation"
            assert result["errors"][0][b"C"] == "57014"
            # connection survives and is usable
            assert c.query("SELECT 1")["tags"] == ["SELECT 1"]
            c.close()
        finally:
            srv.shutdown()


    def test_cancel_under_statement_timeout(self, spark):
        """The statement-timeout path keeps the connection's job group, so
        a CancelRequest still reaches a statement running under it."""
        srv = PgWireServer(spark, port=0)
        srv.start_background()
        try:
            c = RawClient(srv.host, srv.port)
            assert c.drain_startup()
            pid, secret = c.backend_key
            assert not c.query("SET statement_timeout = '120s'")["errors"]
            result = {}

            def run():
                result.update(c.query(
                    "SELECT MAX(a.id * b.id) FROM range(300000) a "
                    "CROSS JOIN range(300000) b"))

            t0 = time.monotonic()
            t = threading.Thread(target=run)
            t.start()
            time.sleep(2.0)  # let the job start
            cancel = socket.create_connection((srv.host, srv.port),
                                              timeout=30)
            cancel.sendall(struct.pack("!III", 16, 80877102, pid) +
                           struct.pack("!I", secret))
            cancel.close()
            t.join(timeout=90)
            assert not t.is_alive(), "statement was not cancelled"
            assert time.monotonic() - t0 < 60
            assert result["errors"][0][b"C"] == "57014"
            assert c.query("SELECT 1")["tags"] == ["SELECT 1"]
            c.close()
        finally:
            srv.shutdown()


class TestExtendedLifecycle:
    @pytest.fixture()
    def restricted_engine(self, spark):
        from datafusion_postgres_spark.session import SparkPgEngine
        eng = SparkPgEngine(spark.newSession())
        eng.register_file("nation", "/root/testdata/sf0.001/nation.parquet")
        eng.auth.add_user(User("bob"))  # no grants, not superuser
        eng.user = "bob"
        return eng

    def test_extended_execute_enforces_rbac(self, restricted_engine):
        from datafusion_postgres_spark.server.auth import PermissionDenied
        from datafusion_postgres_spark.server.prepared import (
            PreparedStatementManager)
        pm = PreparedStatementManager(restricted_engine)
        pm.parse("s1", "SELECT * FROM nation")
        with pytest.raises(PermissionDenied):
            pm.execute("s1", [])
        pm.parse("s2", "SELECT n_name FROM nation WHERE n_nationkey = $1::int4")
        with pytest.raises(PermissionDenied):
            pm.execute("s2", ["3"])

    def test_extended_execute_respects_failed_txn(self, spark):
        from datafusion_postgres_spark.session import (
            FailedTransactionError, SparkPgEngine)
        from datafusion_postgres_spark.server.prepared import (
            PreparedStatementManager)
        eng = SparkPgEngine(spark.newSession())
        pm = PreparedStatementManager(eng)
        eng.execute("BEGIN")
        with pytest.raises(Exception):
            eng.execute("SELECT * FROM no_such_table_xyz")
        pm.parse("s3", "SELECT 1")
        with pytest.raises(FailedTransactionError):
            pm.execute("s3", [])
        eng.execute("ROLLBACK")

    def test_extended_set_routes_through_hooks(self, spark):
        from datafusion_postgres_spark.session import SparkPgEngine
        from datafusion_postgres_spark.server.prepared import (
            PreparedStatementManager)
        eng = SparkPgEngine(spark.newSession())
        pm = PreparedStatementManager(eng)
        pm.parse("s4", "SET statement_timeout = '7s'")
        res = pm.execute("s4", [])
        assert res.command_tag == "SET"
        assert eng.state.get_var("statement_timeout") == "7s"

    def test_rbac_fail_closed_on_unparseable_dml(self, spark):
        from datafusion_postgres_spark.server.auth import PermissionDenied
        from datafusion_postgres_spark.session import SparkPgEngine
        eng = SparkPgEngine(spark.newSession())
        eng.auth.add_user(User("carol"))
        eng.user = "carol"
        # tokenizer cannot find a target table here: fail closed (42501)
        with pytest.raises(PermissionDenied):
            eng._check_permissions("TRUNCATE")
        # table-less SELECT stays allowed
        eng._check_permissions("SELECT 1")


class TestExtendedWire:
    """Frame-level: error-discard-until-Sync, describe-without-execute,
    DML command tags."""

    @pytest.fixture(scope="class")
    def wire(self, spark):
        srv = PgWireServer(spark, port=0)
        srv.start_background()
        c = RawClient(srv.host, srv.port)
        assert c.drain_startup()
        yield c
        c.close()
        srv.shutdown()

    def _parse(self, c, name, sql):
        c.send(b"P", name.encode() + b"\x00" + sql.encode() + b"\x00\x00\x00")

    def _bind(self, c, portal, stmt, params=()):
        body = portal.encode() + b"\x00" + stmt.encode() + b"\x00"
        body += struct.pack("!H", 0) + struct.pack("!H", len(params))
        for p in params:
            body += struct.pack("!I", len(p)) + p.encode()
        body += struct.pack("!H", 0)
        c.send(b"B", body)

    def _execute(self, c, portal=""):
        c.send(b"E", portal.encode() + b"\x00" + struct.pack("!I", 0))

    def _sync(self, c):
        c.send(b"S", b"")

    def _drain(self, c):
        msgs = []
        while True:
            tag, payload = c.read_message()
            msgs.append((tag, payload))
            if tag == b"Z":
                return msgs

    def test_error_discards_until_sync(self, wire):
        self._parse(wire, "bad", "SELECT FROM FROM nonsense((")
        self._bind(wire, "", "bad")
        self._execute(wire)            # fails here (parse is lazy)
        # everything after the error and before Sync must be DISCARDED
        self._parse(wire, "after", "SELECT 9 AS v")
        self._bind(wire, "", "after")
        self._execute(wire)
        self._sync(wire)
        msgs = self._drain(wire)
        tags = [t for t, _ in msgs]
        assert tags.count(b"E") == 1
        # one ParseComplete + one BindComplete from BEFORE the error only,
        # and no DataRow/CommandComplete from the discarded second cycle
        assert tags.count(b"1") == 1 and tags.count(b"2") == 1
        assert b"D" not in tags and b"C" not in tags
        assert tags[-1] == b"Z"
        # next cycle works
        self._parse(wire, "ok", "SELECT 5 AS v")
        self._bind(wire, "", "ok")
        self._execute(wire)
        self._sync(wire)
        msgs = self._drain(wire)
        assert any(t == b"D" for t, _ in msgs)

    def test_parse_error_message_not_empty(self, wire):
        """Spark parse errors start with a newline; the client must still
        get the error's first real line, over Q and over Parse/Bind/
        Execute alike."""
        res = wire.query("SELEC 1")
        assert "PARSE_SYNTAX_ERROR" in res["errors"][0][b"M"]
        self._parse(wire, "typo", "SELEC 1")
        self._bind(wire, "", "typo")
        self._execute(wire)
        self._sync(wire)
        errors = [{p[:1]: p[1:].decode() for p in payload.split(b"\x00")
                   if p} for t, payload in self._drain(wire) if t == b"E"]
        assert len(errors) == 1
        assert "PARSE_SYNTAX_ERROR" in errors[0][b"M"]
        assert "\n" not in errors[0][b"M"]

    def test_describe_insert_does_not_execute(self, wire):
        assert wire.query(
            "CREATE TABLE IF NOT EXISTS desc_probe (x INT) USING PARQUET") \
            ["tags"]
        wire.query("TRUNCATE TABLE desc_probe")
        self._parse(wire, "ins", "INSERT INTO desc_probe VALUES (42)")
        wire.send(b"D", b"S" + b"ins\x00")
        self._sync(wire)
        msgs = self._drain(wire)
        # NoData response, not a RowDescription
        assert any(t == b"n" for t, _ in msgs)
        res = wire.query("SELECT COUNT(*) AS n FROM desc_probe")
        assert res["rows"][0].endswith(b"0")

    def test_dml_tag_via_extended(self, wire):
        self._parse(wire, "ins2", "INSERT INTO desc_probe VALUES (7)")
        self._bind(wire, "", "ins2")
        self._execute(wire)
        self._sync(wire)
        msgs = self._drain(wire)
        tags = [p.rstrip(b"\x00").decode() for t, p in msgs if t == b"C"]
        assert tags == ["INSERT 0 1"]
        wire.query("DROP TABLE desc_probe")


class TestAvroFallback:
    def test_roundtrip_via_register_file(self, spark, tmp_path):
        from datafusion_postgres_spark.sources.avro_reader import (
            read_avro, write_avro)
        schema = {
            "type": "record", "name": "rec", "fields": [
                {"name": "id", "type": "long"},
                {"name": "name", "type": "string"},
                {"name": "score", "type": "double"},
                {"name": "tags", "type": {"type": "array", "items": "string"}},
                {"name": "maybe", "type": ["null", "long"]},
            ]}
        rows = [
            {"id": 1, "name": "a", "score": 1.5, "tags": ["x", "y"],
             "maybe": 10},
            {"id": 2, "name": "b", "score": -2.25, "tags": [], "maybe": None},
            {"id": 3, "name": "çé", "score": 0.0, "tags": ["z"], "maybe": 7},
        ]
        path = str(tmp_path / "t.avro")
        write_avro(path, schema, rows)
        rschema, rrows = read_avro(path)
        assert rrows == rows
        from datafusion_postgres_spark.session import SparkPgEngine
        eng = SparkPgEngine(spark.newSession())
        eng.register_file("avro_t", path, "avro")
        got = eng.execute("SELECT id, name, maybe FROM avro_t ORDER BY id")
        vals = [tuple(r) for r in got[0].collect()]
        assert vals == [(1, "a", 10), (2, "b", None), (3, "çé", 7)]


class TestTLS:
    def test_sslrequest_tls_query(self, spark, tmp_path):
        import ssl
        import subprocess
        cert = tmp_path / "server.crt"
        key = tmp_path / "server.key"
        subprocess.run(
            ["openssl", "req", "-x509", "-newkey", "rsa:2048", "-nodes",
             "-keyout", str(key), "-out", str(cert), "-days", "1",
             "-subj", "/CN=localhost"], check=True, capture_output=True)
        srv = PgWireServer(spark, port=0, ssl_certfile=str(cert),
                           ssl_keyfile=str(key))
        srv.start_background()
        try:
            raw = socket.create_connection((srv.host, srv.port), timeout=60)
            raw.sendall(struct.pack("!II", 8, 80877103))  # SSLRequest
            assert raw.recv(1) == b"S"
            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_CLIENT)
            ctx.check_hostname = False
            ctx.verify_mode = ssl.CERT_NONE
            tls = ctx.wrap_socket(raw)
            payload = struct.pack("!I", 196608)
            payload += b"user\x00postgres\x00database\x00postgres\x00\x00"
            tls.sendall(struct.pack("!I", len(payload) + 4) + payload)
            c = RawClient.__new__(RawClient)
            c.sock, c.buf, c.user, c.backend_key = tls, b"", "postgres", None
            assert c.drain_startup()
            res = c.query("SELECT 'over-tls' AS v")
            assert res["tags"] == ["SELECT 1"]
            assert b"over-tls" in res["rows"][0]
            tls.close()
        finally:
            srv.shutdown()

    def test_sslrequest_refused_without_cert(self, spark):
        srv = PgWireServer(spark, port=0)
        srv.start_background()
        try:
            raw = socket.create_connection((srv.host, srv.port), timeout=30)
            raw.sendall(struct.pack("!II", 8, 80877103))
            assert raw.recv(1) == b"N"
            raw.close()
        finally:
            srv.shutdown()
