"""PostgreSQL wire-protocol (v3) server frontend.

Reference parity: the pgwire serving layer
(``datafusion-postgres/src/lib.rs:87-195`` server setup + accept loop,
``handlers.rs`` simple/extended query handlers). Implemented from the
public PostgreSQL Frontend/Backend protocol documentation.

Per connection: its own ``SparkPgEngine`` over a clone of the server's
template session, registered once — isolated SET values, temp views and
functions, shared executors/cache (our improvement over the reference's
shared-SessionContext TimeZone mutation, SURVEY.md §7).

Supported: startup (trust auth / cleartext password), SSLRequest refusal,
simple query protocol (multi-statement), extended protocol
(Parse/Bind/Describe/Execute/Close/Sync/Flush), ParameterStatus
broadcast, transaction-status-aware ReadyForQuery, error responses with
SQLSTATE, connection limit semaphore, Terminate.

Both query protocols share one statement lifecycle
(``SparkPgEngine._execute_one``) and one result writer (``_send_result``):
a simple query is the unnamed portal with text formats, no row limit and
a RowDescription (handlers.rs shares its planning path and
``arrow-pg/src/datatypes/df.rs`` encoder the same way).

Rows leave in chunks of at most ``_CHUNK_ROWS``, never past an Execute's
``max_rows``: the writer pulls a chunk from the result's row stream
(Arrow batches underneath, ``session.arrow_batches``), transposes it,
encodes each column with the encoder ``encoder.column_encoder`` chose for
it, and hands the chunk's DataRows to one ``_send``; COPY TO STDOUT
sends its CopyData messages the same way.

``_send`` only queues; ``_flush`` writes the queue with one ``sendall``,
as PostgreSQL's backend buffers a response and flushes it whole. It
flushes at three points: just before a read blocks on the socket (after
ReadyForQuery, the end of a pipelined Parse/Bind/Describe/Execute/Sync
batch, a CopyInResponse, an authentication request), once the queue
passes ``_FLUSH_BYTES`` (large results stream in bounded memory), and
when the connection closes (a FATAL error still reaches the client); a
Flush message also writes the queue. Every accepted socket sets
``TCP_NODELAY``, as PostgreSQL does: with Nagle on, a small write that
follows another waits for the client's delayed ACK, about 40 ms.
"""

from __future__ import annotations

import itertools
import re
import socket
import socketserver
import struct
import threading

from datafusion_postgres_spark.server import encoder
from datafusion_postgres_spark.server.auth import (
    AuthManager, ScramServer, verify_cleartext, verify_md5,
)
from datafusion_postgres_spark.server.hooks import CursorError
from datafusion_postgres_spark.server.prepared import (
    PreparedStatementManager,
)
from datafusion_postgres_spark.server.session_state import (
    PARAMETER_STATUS_VARS, TxnState,
)
from datafusion_postgres_spark.session import (
    SparkPgEngine, clone_session, text_schema,
)

PROTOCOL_V3 = 196608
SSL_REQUEST = 80877103
CANCEL_REQUEST = 80877102
GSSENC_REQUEST = 80877104


# rows per encoded chunk of DataRows / CopyData
_CHUNK_ROWS = 4096
# queued bytes that trigger a write before the response is complete
_FLUSH_BYTES = 64 << 10

_pack_len = struct.Struct("!I").pack


def _msg(tag: bytes, payload: bytes) -> bytes:
    return tag + _pack_len(len(payload) + 4) + payload


def _chunks(rows):
    """Lists of up to _CHUNK_ROWS rows from an iterator."""
    while chunk := list(itertools.islice(rows, _CHUNK_ROWS)):
        yield chunk


# PostgreSQL's COPY text escapes (copyto.c, CopyAttributeOutText)
_COPY_TEXT_ESCAPES = {"\\": "\\\\", "\b": "\\b", "\f": "\\f",
                      "\n": "\\n", "\r": "\\r", "\t": "\\t",
                      "\v": "\\v"}


def _copy_field(opts):
    """(value text or None -> its COPY TO field, the delimiter), as
    PostgreSQL writes text and csv: text backslash-escapes the delimiter,
    backslash and control characters; csv quotes a value holding the
    delimiter, a quote, CR or LF, or equal to the NULL string; NULL is
    the NULL option (text ``\\N``, csv empty)."""
    if opts.format == "csv":
        delimiter = opts.delimiter or ","
        null = "" if opts.null is None else opts.null

        def csv_field(v):
            if v is None:
                return null
            if (v == null or '"' in v or delimiter in v or "\n" in v
                    or "\r" in v):
                return '"' + v.replace('"', '""') + '"'
            return v
        return csv_field, delimiter
    delimiter = opts.delimiter or "\t"
    null = "\\N" if opts.null is None else opts.null
    escapes = {delimiter: "\\" + delimiter, **_COPY_TEXT_ESCAPES}
    pattern = re.compile("[" + re.escape("".join(escapes)) + "]")

    def text_field(v):
        if v is None:
            return null
        # the common case, and cheaper than the regex: nothing to escape
        if v.isprintable() and "\\" not in v and delimiter not in v:
            return v
        return pattern.sub(lambda m: escapes[m.group()], v)
    return text_field, delimiter


def _sqlstate_of(exc: Exception) -> str:
    """Engine errors carry .sqlstate; PySpark exceptions expose
    getSqlState() (Spark's own error classes map to standard SQLSTATEs,
    e.g. TABLE_OR_VIEW_NOT_FOUND -> 42P01)."""
    state = getattr(exc, "sqlstate", None)
    if state:
        return state
    getter = getattr(exc, "getSqlState", None)
    if getter:
        try:
            state = getter()
            if state:
                return state
        except Exception:
            pass
    # Spark job-group cancellation (CancelRequest / statement timeout)
    # surfaces as a generic SparkException mentioning the cancelled group
    if "cancelled" in str(exc).lower() or "canceled" in str(exc).lower():
        return "57014"
    return "XX000"


def _error_text(exc: Exception) -> str:
    """The first non-empty line of an error, capped: Spark messages such as
    ParseException start with a newline and go on with the SQL text."""
    lines = [ln.strip() for ln in str(exc).splitlines() if ln.strip()]
    return (lines[0] if lines else type(exc).__name__)[:500]


def _cstr(s: str) -> bytes:
    return s.encode() + b"\x00"


def _error_response(severity: str, sqlstate: str, message: str) -> bytes:
    return _msg(b"E", b"S" + _cstr(severity) + b"V" + _cstr(severity) +
                b"C" + _cstr(sqlstate) + b"M" + _cstr(message) + b"\x00")


class _CopyFailed(RuntimeError):
    sqlstate = "57014"  # QUERY_CANCELED, per pg's COPY-fail handling


def _column_formats(schema, codes: list[int]) -> list[int]:
    """Bind result-format codes -> one code per column (none: all text;
    one: every column; else per column). Binary only where the encoder
    supports the type; other columns fall back to text."""
    fields = schema.fields
    if len(codes) == 1:
        codes = codes * len(fields)
    elif len(codes) != len(fields):
        codes = [0] * len(fields)
    return [1 if (c == 1 and encoder.supports_binary(f.dataType)) else 0
            for c, f in zip(codes, fields)]


def _row_description(schema, fmts: list[int]) -> bytes:
    fields = encoder.schema_to_pg_fields(schema)
    buf = struct.pack("!H", len(fields))
    for f, fmt in zip(fields, fmts):
        buf += (_cstr(f.name) + struct.pack("!IhIhih", 0, 0, f.type_oid,
                                            f.typlen, f.typmod, fmt))
    return _msg(b"T", buf)


class _Conn(socketserver.BaseRequestHandler):
    # class attrs injected by PgWireServer: engine_factory, auth, password_mode

    def handle(self):
        self.sock = self.request
        # answers go out whole: no Nagle wait on a response's last segment
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.buf = b""
        self.out: list[bytes] = []  # messages not yet written
        self.out_bytes = 0
        self.engine = None
        self._in_error = False  # extended-protocol: discard until Sync
        self.backend_key = None
        try:
            if not self._startup():
                return
            self.engine = self.server.engine_factory()
            # RBAC checks run as the authenticated user (auth.rs wiring)
            self.engine.user = self.client_user
            self.engine.auth = self.server.auth
            self.prepared = PreparedStatementManager(self.engine)
            self.portals = {}
            # suspended-portal row iterators: Execute with max_rows that
            # stops mid-result parks (rows_iter, res, fmts) here so the
            # next Execute on the portal RESUMES instead of re-running
            # (protocol spec: a portal is a live cursor until Close/
            # re-Bind; JDBC setFetchSize drives this path)
            self.portal_iters = {}
            # cancellation identity: BackendKeyData -> job group
            # (handlers.rs CancelHandler analog)
            self.backend_key = self.server.cancel_registry.register(
                self.engine.spark)
            self._send_auth_ok_and_status()
            self._main_loop()
        except (ConnectionError, OSError):
            pass
        finally:
            try:
                self._flush()  # e.g. a FATAL auth error before the close
            except OSError:
                pass
            if self.backend_key is not None:
                self.server.cancel_registry.unregister(self.backend_key[0])

    # -- plumbing ----------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        while len(self.buf) < n:
            self._flush()  # the client may be waiting for our answer
            chunk = self.sock.recv(65536)
            if not chunk:
                raise ConnectionError("client disconnected")
            self.buf += chunk
        out, self.buf = self.buf[:n], self.buf[n:]
        return out

    def _send(self, data: bytes) -> None:
        """Queue one message group; :meth:`_flush` writes it."""
        self.out.append(data)
        self.out_bytes += len(data)
        if self.out_bytes >= _FLUSH_BYTES:
            self._flush()

    def _flush(self) -> None:
        """Write every queued message with one ``sendall``."""
        if self.out:
            data = b"".join(self.out)
            self.out.clear()
            self.out_bytes = 0
            self.sock.sendall(data)

    # -- startup -----------------------------------------------------------
    def _startup(self) -> bool:
        while True:
            (length,) = struct.unpack("!I", self._recv_exact(4))
            payload = self._recv_exact(length - 4)
            (code,) = struct.unpack("!I", payload[:4])
            if code == SSL_REQUEST:
                ctx = getattr(self.server, "ssl_context", None)
                if ctx is None:
                    self._send(b"N")  # TLS not configured
                    continue
                # accept: 'S' then immediately wrap the socket (lib.rs:40-64
                # TLS acceptor analog); the startup packet arrives encrypted
                self._send(b"S")
                self._flush()
                assert not self.buf, "client sent data before TLS handshake"
                import ssl as _ssl
                try:
                    self.sock = ctx.wrap_socket(self.sock, server_side=True)
                except _ssl.SSLError:
                    return False
                continue
            if code == GSSENC_REQUEST:
                self._send(b"N")
                continue
            if code == CANCEL_REQUEST:
                # out-of-band cancel: (pid, secret) -> cancel that
                # connection's running job group, then close (the protocol
                # sends no response on a cancel connection)
                pid, secret = struct.unpack("!II", payload[4:12])
                self.server.cancel_registry.cancel(pid, secret)
                return False
            if code != PROTOCOL_V3:
                self._error("08P01", f"unsupported protocol {code}", "FATAL")
                return False
            params = payload[4:].split(b"\x00")
            kv = dict(zip(params[0::2], params[1::2]))
            self.client_user = kv.get(b"user", b"postgres").decode()
            self.database = kv.get(b"database", b"postgres").decode()
            return self._authenticate()

    def _authenticate(self) -> bool:
        """Pluggable AuthSource analog (auth.rs:461-596): trust, cleartext,
        md5 (code 5 + salt), or scram-sha-256 (SASL, RFC 5802)."""
        mode = self.server.password_mode
        if mode == "trust":
            return True
        if mode == "md5":
            return self._auth_md5()
        if mode in ("scram", "scram-sha-256"):
            return self._auth_scram()
        return self._auth_cleartext()

    def _recv_password_message(self) -> bytes | None:
        tag = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        payload = self._recv_exact(length - 4)
        if tag != b"p":
            self._error("08P01", "expected PasswordMessage", "FATAL")
            return None
        return payload

    def _auth_failed(self) -> None:
        self._error("28P01", f'password authentication failed for user '
                             f'"{self.client_user}"', "FATAL")

    def _auth_cleartext(self) -> bool:
        self._send(_msg(b"R", struct.pack("!I", 3)))
        payload = self._recv_password_message()
        if payload is None:
            return False
        password = payload.rstrip(b"\x00").decode()
        if not verify_cleartext(self.server.auth, self.client_user, password):
            self._auth_failed()
            return False
        return True

    def _auth_md5(self) -> bool:
        import os as _os
        salt = _os.urandom(4)
        self._send(_msg(b"R", struct.pack("!I", 5) + salt))
        payload = self._recv_password_message()
        if payload is None:
            return False
        response = payload.rstrip(b"\x00").decode()
        if not verify_md5(self.server.auth, self.client_user, response, salt):
            self._auth_failed()
            return False
        return True

    def _auth_scram(self) -> bool:
        """SCRAM-SHA-256 server side (RFC 5802/7677): AuthenticationSASL ->
        client-first -> SASLContinue(server-first) -> client-final ->
        SASLFinal(verifier) + AuthenticationOk."""
        self._send(_msg(b"R", struct.pack("!I", 10) +
                        _cstr("SCRAM-SHA-256") + b"\x00"))
        payload = self._recv_password_message()
        if payload is None:
            return False
        # SASLInitialResponse: mechanism cstr + int32 len + client-first
        mech_end = payload.index(b"\x00")
        mechanism = payload[:mech_end].decode()
        if mechanism != "SCRAM-SHA-256":
            self._error("28000", f"unsupported SASL mechanism {mechanism}",
                        "FATAL")
            return False
        (resp_len,) = struct.unpack("!i", payload[mech_end + 1:mech_end + 5])
        client_first = payload[mech_end + 5:mech_end + 5 + max(resp_len, 0)]
        user = self.server.auth.users.get(self.client_user)
        if user is None or user.password is None:
            self._auth_failed()
            return False
        scram = ScramServer(self.client_user, user.password)
        try:
            server_first = scram.handle_client_first(client_first.decode())
        except ValueError as exc:
            self._error("28000", _error_text(exc), "FATAL")
            return False
        self._send(_msg(b"R", struct.pack("!I", 11) + server_first.encode()))
        payload = self._recv_password_message()
        if payload is None:
            return False
        try:
            server_final = scram.handle_client_final(payload.decode())
        except ValueError:
            self._auth_failed()
            return False
        self._send(_msg(b"R", struct.pack("!I", 12) + server_final.encode()))
        return True

    def _send_auth_ok_and_status(self):
        out = _msg(b"R", struct.pack("!I", 0))
        state = self.engine.state
        status = {
            "server_version": state.get_var("server_version"),
            "server_encoding": "UTF8",
            "client_encoding": "UTF8",
            "DateStyle": state.get_var("datestyle"),
            "TimeZone": state.get_var("timezone"),
            "integer_datetimes": "on",
            "standard_conforming_strings": "on",
            "is_superuser": "on",
            "session_authorization": self.client_user,
        }
        for k, v in status.items():
            out += _msg(b"S", _cstr(k) + _cstr(v))
        pid, secret = self.backend_key
        out += _msg(b"K", struct.pack("!II", pid, secret))  # BackendKeyData
        out += self._ready()
        self._send(out)

    def _ready(self) -> bytes:
        status = {TxnState.IDLE: b"I", TxnState.TRANSACTION: b"T",
                  TxnState.ERROR: b"E"}[self.engine.state.txn]
        return _msg(b"Z", status)

    def _error(self, sqlstate: str, message: str,
               severity: str = "ERROR") -> None:
        """ErrorResponse; ``FATAL`` when the server then closes the
        connection."""
        self._send(_error_response(severity, sqlstate, message))

    # -- main loop ---------------------------------------------------------
    def _main_loop(self):
        while True:
            tag = self._recv_exact(1)
            (length,) = struct.unpack("!I", self._recv_exact(4))
            payload = self._recv_exact(length - 4)
            if tag == b"X":
                return
            # after an extended-protocol error, discard messages until Sync
            # (protocol spec: avoids desyncing pipelined clients)
            if self._in_error and tag in (b"P", b"B", b"D", b"E", b"C", b"H",
                                          b"p"):
                continue
            handler = {b"Q": self._on_query, b"P": self._on_parse,
                       b"B": self._on_bind, b"D": self._on_describe,
                       b"E": self._on_execute, b"C": self._on_close,
                       b"S": self._on_sync, b"H": self._on_flush,
                       b"p": lambda _: None}.get(tag)
            if handler is None:
                self._error("08P01", f"unknown message type {tag!r}")
                self._send(self._ready())
                continue
            handler(payload)

    # -- simple query ------------------------------------------------------
    def _on_query(self, payload: bytes):
        sql = payload.rstrip(b"\x00").decode()
        self._in_error = False  # simple query resets extended error state
        try:
            if not sql.strip():
                self._send(_msg(b"I", b""))  # EmptyQueryResponse
                self._send(self._ready())
                return
            self._enter_job_group()
            # each statement's result goes out as the unnamed portal would:
            # text format, every row, after a RowDescription
            for res in self.engine.execute(sql):
                self._send_result("", res, [], 0, describe=True)
        except Exception as exc:
            self.engine.state.statement_failed()
            self._error(_sqlstate_of(exc), _error_text(exc))
        self._send(self._ready())

    def _enter_job_group(self):
        """Tag this connection's Spark jobs with its cancellation group so
        an out-of-band CancelRequest can cancel exactly this statement."""
        try:
            self.server.cancel_registry.enter(self.backend_key[0],
                                              self.engine.spark)
        except Exception:
            pass

    def _send_result(self, key: str, res, result_formats: list[int],
                     max_rows: int, describe: bool):
        """The one result writer of both protocols: a COPY sub-protocol, a
        command's tag, or rows through :meth:`_stream_portal_rows` (after
        a RowDescription when ``describe``; Execute relies on Describe)."""
        if res.command_tag == "COPY_OUT":
            self._send_copy_out(res)
        elif res.command_tag == "COPY_IN":
            self._handle_copy_in(res)
        elif res.schema is None:
            # DML/DDL/utility: the tag already carries kind + rowcount
            # ("INSERT 0 n" etc.) — clients derive rowcount from it
            self._send(_msg(b"C", _cstr(res.command_tag)))
            self._maybe_parameter_status(res)
        else:
            fmts = _column_formats(res.schema, result_formats)
            if describe:
                self._send(_row_description(res.schema, fmts))
            timeout = self.engine.state.statement_timeout_secs()
            rows = iter(res.collect(timeout) if timeout > 0 else res.rows())
            self._stream_portal_rows(key, rows, res, fmts, max_rows, 0)

    def _stream_portal_rows(self, portal_key, rows, res, fmts,
                            max_rows: int, n: int):
        """The one DataRow loop: send rows from a (possibly resumed) portal
        iterator a chunk at a time, one ``_send`` per chunk; on hitting
        max_rows, park the iterator for the next Execute."""
        messages = self._tuple_messages(b"D", res.schema, fmts)
        sent = 0
        while not max_rows or sent < max_rows:
            want = (min(_CHUNK_ROWS, max_rows - sent) if max_rows
                    else _CHUNK_ROWS)
            chunk = list(itertools.islice(rows, want))
            if chunk:
                self._send(messages(chunk))
                sent += len(chunk)
                n += len(chunk)
            if len(chunk) < want:
                tag = res.command_tag
                if tag == "SELECT":
                    tag = f"SELECT {n}"
                self._send(_msg(b"C", _cstr(tag)))
                return
        self.portal_iters[portal_key] = (rows, res, fmts, n)
        self._send(_msg(b"s", b""))  # PortalSuspended

    def _tuple_messages(self, tag: bytes, schema, fmts):
        """chunk of rows -> one buffer of ``tag`` messages, one per row:
        int16 column count, then per column an int32 length (-1 for NULL)
        and the value in its format (a DataRow, or a COPY binary tuple as
        CopyData). The chunk is transposed and each column encoded by the
        encoder :func:`encoder.column_encoder` chose for it, per result."""
        efd = int(self.engine.state.get_var("extra_float_digits") or 1)
        encoders = [encoder.column_encoder(f.dataType, fmt, efd)
                    for f, fmt in zip(schema.fields, fmts)]
        head = struct.pack("!H", len(encoders))

        def messages(chunk) -> bytes:
            cells = [enc(col) for enc, col in zip(encoders, zip(*chunk))]
            bodies = (map(b"".join, zip(*cells)) if cells
                      else [b""] * len(chunk))
            return b"".join(tag + _pack_len(len(body) + 6) + head + body
                            for body in bodies)
        return messages

    def _recv_message(self) -> tuple[bytes, bytes]:
        tag = self._recv_exact(1)
        (length,) = struct.unpack("!I", self._recv_exact(4))
        return tag, self._recv_exact(length - 4)

    def _handle_copy_in(self, res):
        """COPY table FROM STDIN: CopyInResponse, then accumulate CopyData
        until CopyDone/CopyFail, then ingest via engine.copy_into.

        The target table/columns were validated by the hook BEFORE entering
        copy mode, so the client only ever sees data-level errors here."""
        ncols = res.copy.ncols
        self._send(_msg(b"G", struct.pack("!bH", 0, ncols) +
                        struct.pack(f"!{ncols}H", *([0] * ncols))))
        buf = bytearray()
        fail = None
        while True:
            tag, payload = self._recv_message()
            if tag == b"d":
                buf += payload
            elif tag == b"c":
                break
            elif tag == b"f":
                fail = payload.split(b"\x00")[0].decode("utf-8", "replace")
                break
            elif tag in (b"H", b"S"):
                continue  # Flush/Sync are legal mid-copy, no-ops here
            else:
                fail = f"unexpected message {tag!r} during COPY"
                break
        if fail is not None:
            raise _CopyFailed(fail)
        c = res.copy
        n = self.engine.copy_into(c.table, c.columns, bytes(buf), c.format,
                                  c.delimiter, c.null, c.header)
        self._send(_msg(b"C", _cstr(f"COPY {n}")))

    def _send_copy_out(self, res):
        """COPY ... TO STDOUT: CopyOutResponse + CopyData rows, one per
        line in text or csv (:func:`_copy_field`), an optional header
        line first; binary: PGCOPY signature + length-prefixed tuples in
        the binary wire encoding."""
        schema, opts = res.schema, res.copy
        n_cols = len(schema.fields)
        if opts.format == "binary":
            self._send_copy_out_binary(res, schema, n_cols)
            return
        self._send(_msg(b"H", struct.pack("!bH", 0, n_cols) +
                        struct.pack(f"!{n_cols}H", *([0] * n_cols))))
        field, delimiter = _copy_field(opts)
        efd = int(self.engine.state.get_var("extra_float_digits") or 1)
        if opts.header:
            header = delimiter.join(field(f.name) for f in schema.fields)
            self._send(_msg(b"d", (header + "\n").encode()))
        n = 0
        for chunk in _chunks(res.rows()):
            lines = (delimiter.join(map(field, encoder.encode_row(
                row, schema, efd))) + "\n" for row in chunk)
            self._send(b"".join(_msg(b"d", line.encode()) for line in lines))
            n += len(chunk)
        self._send(_msg(b"c", b""))
        self._send(_msg(b"C", _cstr(f"COPY {n}")))

    def _send_copy_out_binary(self, res, schema, n_cols: int):
        from datafusion_postgres_spark.server.copy_data import (
            COPY_BINARY_SIGNATURE)

        bad = [f.name for f in schema.fields
               if not encoder.supports_binary(f.dataType)]
        if bad:
            raise RuntimeError(
                f"COPY binary cannot encode column(s): {', '.join(bad)}")
        # overall format 1, every column binary
        self._send(_msg(b"H", struct.pack("!bH", 1, n_cols) +
                        struct.pack(f"!{n_cols}H", *([1] * n_cols))))
        self._send(_msg(b"d", COPY_BINARY_SIGNATURE +
                        struct.pack("!ii", 0, 0)))
        messages = self._tuple_messages(b"d", schema, [1] * n_cols)
        n = 0
        for chunk in _chunks(res.rows()):
            self._send(messages(chunk))
            n += len(chunk)
        self._send(_msg(b"d", struct.pack("!h", -1)))
        self._send(_msg(b"c", b""))
        self._send(_msg(b"C", _cstr(f"COPY {n}")))

    def _maybe_parameter_status(self, res):
        """After a SET, broadcast ParameterStatus for known vars
        (set_show.rs:139-246)."""
        if res.command_tag != "SET":
            return
        for var in PARAMETER_STATUS_VARS:
            val = self.engine.state.get_var(var)
            if val:
                name = {"timezone": "TimeZone",
                        "datestyle": "DateStyle"}.get(var, var)
                self._send(_msg(b"S", _cstr(name) + _cstr(val)))

    # -- extended protocol -------------------------------------------------
    def _on_parse(self, payload: bytes):
        try:
            name_end = payload.index(b"\x00")
            name = payload[:name_end].decode()
            rest = payload[name_end + 1:]
            sql_end = rest.index(b"\x00")
            sql = rest[:sql_end].decode()
            # int16 count + OID list after the query string: OIDs a client
            # DECLARES (psycopg binary params declare int8 etc.) take
            # precedence over cast-inference — discarding them made binary
            # Bind decode the raw bytes as text (OID 25)
            rest = rest[sql_end + 1:]
            declared: list[int] = []
            if len(rest) >= 2:  # a truncated list keeps its whole OIDs
                n = min(struct.unpack("!H", rest[:2])[0], (len(rest) - 2) // 4)
                declared = list(struct.unpack(f"!{n}I", rest[2:2 + 4 * n]))
            self.prepared.parse(name or "", sql, declared_oids=declared)
            self._send(_msg(b"1", b""))
        except Exception as exc:
            self._in_error = True
            self._error(_sqlstate_of(exc), _error_text(exc))

    def _on_bind(self, payload: bytes):
        try:
            i = payload.index(b"\x00")
            portal = payload[:i].decode()
            rest = payload[i + 1:]
            j = rest.index(b"\x00")
            stmt_name = rest[:j].decode()
            rest = rest[j + 1:]
            (n_fmt,) = struct.unpack("!H", rest[:2])
            fmts = list(struct.unpack(f"!{n_fmt}H", rest[2:2 + 2 * n_fmt]))
            rest = rest[2 + 2 * n_fmt:]
            (n_params,) = struct.unpack("!H", rest[:2])
            rest = rest[2:]
            params = []
            for k in range(n_params):
                # one format code applies to all params; else per-param
                fmt = (fmts[k] if len(fmts) == n_params else
                       (fmts[0] if fmts else 0))
                (plen,) = struct.unpack("!i", rest[:4])
                rest = rest[4:]
                if plen < 0:
                    params.append(None)
                elif fmt == 1:
                    params.append(("bin", rest[:plen]))
                    rest = rest[plen:]
                else:
                    params.append(rest[:plen].decode())
                    rest = rest[plen:]
            # result-format codes: 0=all text, 1 code=applies to every
            # column, else per-column
            result_formats = []
            if len(rest) >= 2:
                (n_rfmt,) = struct.unpack("!H", rest[:2])
                rest = rest[2:]
                for _ in range(n_rfmt):
                    (code,) = struct.unpack("!H", rest[:2])
                    rest = rest[2:]
                    result_formats.append(code)
            self.portals[portal or ""] = (stmt_name or "", params,
                                          result_formats)
            self.portal_iters.pop(portal or "", None)  # re-Bind resets
            self._send(_msg(b"2", b""))
        except Exception as exc:
            self._in_error = True
            self._error(_sqlstate_of(exc), _error_text(exc))

    def _on_describe(self, payload: bytes):
        kind, name = payload[:1], payload[1:].rstrip(b"\x00").decode()
        try:
            if kind == b"S":
                stmt = self.prepared.describe(name)
                self._send(_msg(b"t", struct.pack(
                    f"!H{stmt.num_params}I", stmt.num_params,
                    *stmt.param_oids)))
                # a statement's result formats are not known yet: text
                self._send(self._describe_rows(stmt, []))
            else:
                stmt_name, _params, result_formats = self._portal(name)
                stmt = self.prepared.describe(stmt_name)
                self._send(self._describe_rows(stmt, result_formats))
        except CursorError as exc:
            self._in_error = True
            self._error(exc.sqlstate, str(exc))
        except KeyError:
            self._in_error = True
            self._error("26000",
                        f'prepared statement "{name}" does not exist')

    def _portal(self, name: str):
        try:
            return self.portals[name]
        except KeyError:
            raise CursorError(f'portal "{name}" does not exist',
                              "34000") from None

    def _describe_rows(self, stmt, result_formats: list[int]) -> bytes:
        # Only row-returning statements get a schema probe: Spark executes
        # commands (INSERT / CTAS / DDL) EAGERLY inside spark.sql(), so
        # probing a DML statement at Describe time would actually run it
        # (with NULL parameters), then again at Execute. Clients that
        # Describe before Execute (psycopg, JDBC) hit this on every write.
        record = stmt.statement
        if record.kind == "EXPLAIN":
            # no probe: both EXPLAIN paths of _execute_one answer one
            # text column named QUERY PLAN, while a raw spark.sql names
            # it `plan` and never sees the EXPLAIN ANALYZE rewrite
            schema = text_schema(["QUERY PLAN"])
            return _row_description(
                schema, _column_formats(schema, result_formats))
        if not record.props.rows:
            return _msg(b"n", b"")  # NoData
        try:
            # a denied statement answers NoData, as its Execute fails; the
            # probe only plans, so no pipeline TVF builder runs here
            self.engine._check_permissions(record)
            nulls = {f"p{i + 1}": None for i in range(stmt.num_params)}
            schema = self.engine._sql(record, nulls or None).schema
            return _row_description(
                schema, _column_formats(schema, result_formats))
        except Exception:
            return _msg(b"n", b"")  # NoData

    def _on_execute(self, payload: bytes):
        i = payload.index(b"\x00")
        key = payload[:i].decode()
        (max_rows,) = struct.unpack("!I", payload[i + 1:i + 5])
        try:
            if key in self.portal_iters:
                # resume the suspended portal — do NOT re-execute
                rows, res, fmts, n0 = self.portal_iters.pop(key)
                self._stream_portal_rows(key, rows, res, fmts, max_rows, n0)
                return
            stmt_name, params, result_formats = self._portal(key)
            self._enter_job_group()
            res = self.prepared.execute(stmt_name, params)
            self._send_result(key, res, result_formats, max_rows,
                              describe=False)
        except Exception as exc:
            self.engine.state.statement_failed()
            self._in_error = True
            self._error(_sqlstate_of(exc), _error_text(exc))

    def _on_close(self, payload: bytes):
        kind, name = payload[:1], payload[1:].rstrip(b"\x00").decode()
        if kind == b"S":
            self.prepared.close(name or "")
        else:
            self.portals.pop(name or "", None)
            self.portal_iters.pop(name or "", None)
        self._send(_msg(b"3", b""))

    def _on_sync(self, _payload: bytes):
        self._in_error = False
        self._send(self._ready())

    def _on_flush(self, _payload: bytes):
        self._flush()


class CancelRegistry:
    """(pid, secret) -> Spark job group, for out-of-band CancelRequest
    (the reference's CancelHandler, handlers.rs:14,50,103).

    Each connection gets a generated BackendKeyData at startup and tags
    its statements' Spark jobs with a per-connection job group
    (thread-local on the submitting thread, so concurrent connections
    don't collide); a CancelRequest on a second socket cancels exactly
    that group."""

    def __init__(self):
        import os as _os
        self._lock = threading.Lock()
        self._next_pid = _os.getpid() % 100000 + 1000
        self._conns: dict[int, tuple[int, str]] = {}  # pid -> (secret, group)
        self._sparks: dict[int, object] = {}

    def register(self, spark) -> tuple[int, int]:
        import secrets as _secrets
        with self._lock:
            pid = self._next_pid
            self._next_pid += 1
            secret = _secrets.randbits(31)
            self._conns[pid] = (secret, f"pgwire-conn-{pid}")
            self._sparks[pid] = spark
        return pid, secret

    def unregister(self, pid: int) -> None:
        with self._lock:
            self._conns.pop(pid, None)
            self._sparks.pop(pid, None)

    def enter(self, pid: int, spark) -> None:
        """Called on the connection's executing thread before a statement:
        job-group tags are per-thread, so this marks every job the
        statement submits."""
        info = self._conns.get(pid)
        if info:
            spark.sparkContext.setJobGroup(info[1], f"pgwire pid={pid}",
                                           interruptOnCancel=True)

    def cancel(self, pid: int, secret: int) -> bool:
        with self._lock:
            info = self._conns.get(pid)
            spark = self._sparks.get(pid)
        if not info or info[0] != secret or spark is None:
            return False  # bad secret: ignore silently, per protocol
        try:
            spark.sparkContext.cancelJobGroup(info[1])
            return True
        except Exception:
            return False


class PgWireServer:
    """Threaded pg-wire server over a shared SparkSession (lib.rs:121-195
    accept-loop analog; max_connections via socketserver thread pool)."""

    def __init__(self, spark, host: str = "127.0.0.1", port: int = 5432,
                 password_mode: str = "trust", auth=None,
                 max_connections: int = 100,
                 ssl_certfile: str | None = None,
                 ssl_keyfile: str | None = None):
        self.spark = spark
        self.auth = auth or AuthManager()
        ssl_context = None
        if ssl_certfile:
            import ssl
            ssl_context = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ssl_context.load_cert_chain(ssl_certfile, ssl_keyfile)

        register_lock = threading.Lock()

        def engine_factory():
            # registration is lazy, so the one bootstrap falls inside the
            # first connection's start-up; later calls find it done
            from datafusion_postgres_spark.functions import register_all
            with register_lock:
                register_all(spark)
            return SparkPgEngine(clone_session(spark))

        sem = threading.BoundedSemaphore(max_connections)

        class _Server(socketserver.ThreadingTCPServer):
            # connection-limit semaphore (lib.rs:121-195 max_connections)
            allow_reuse_address = True
            daemon_threads = True

            def verify_request(self, request, client_address):
                if not sem.acquire(blocking=False):
                    try:
                        request.sendall(_error_response(
                            "FATAL", "53300", "too many connections"))
                    except OSError:
                        pass
                    return False
                return True

            def close_request(self, request):
                sem.release()
                super().close_request(request)

        self._server = _Server((host, port), _Conn)
        self._server.engine_factory = engine_factory
        self._server.auth = self.auth
        self._server.password_mode = password_mode
        self._server.cancel_registry = CancelRegistry()
        self._server.ssl_context = ssl_context
        self.host, self.port = self._server.server_address

    def serve_forever(self):
        self._server.serve_forever()

    def start_background(self) -> threading.Thread:
        t = threading.Thread(target=self.serve_forever, daemon=True)
        t.start()
        return t

    def shutdown(self):
        self._server.shutdown()
        self._server.server_close()
        try:
            from datafusion_postgres_spark.operators.cachectl import (
                release_operator_caches,
            )
            release_operator_caches()
        except Exception:
            pass  # Spark may already be stopped
