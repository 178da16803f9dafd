"""A small PostgreSQL v3 frontend for the benchmark.

Covers what the workloads send: startup (trust auth), simple query,
the extended protocol (Parse / Bind / Describe / Execute with max_rows /
Sync) with text or binary result formats, and COPY IN / COPY OUT.

Results keep the raw DataRow payloads; ``decode_rows`` turns them into
Python values after the timed region, so the client's timing covers the
wire round trip and framing, not client-side value parsing.
"""

from __future__ import annotations

import socket
import struct
from dataclasses import dataclass, field

PROTOCOL_V3 = 196608
PG_EPOCH_US = 946684800 * 1_000_000  # 2000-01-01 in unix microseconds

# type oid -> struct format of the binary encoding (fixed-width types)
_BINARY_FIXED = {21: "!h", 23: "!i", 20: "!q", 701: "!d", 1114: "!q"}


class PgError(RuntimeError):
    """An ErrorResponse from the server."""

    def __init__(self, fields: dict):
        self.fields = fields
        self.sqlstate = fields.get("C", "")
        super().__init__(f"{self.sqlstate}: {fields.get('M', '')}")


@dataclass
class Result:
    """One statement's outcome: column (name, type oid) pairs, raw
    DataRow payloads, per-column result formats and the command tag."""

    columns: list = field(default_factory=list)
    raw_rows: list = field(default_factory=list)
    formats: list = field(default_factory=list)
    tag: str = ""
    suspended: bool = False

    def rows(self) -> list[tuple]:
        return decode_rows(self.raw_rows, self.columns, self.formats)


def _split_datarow(payload: bytes) -> list:
    (n,) = struct.unpack_from("!H", payload, 0)
    off, cells = 2, []
    for _ in range(n):
        (ln,) = struct.unpack_from("!i", payload, off)
        off += 4
        if ln < 0:
            cells.append(None)
        else:
            cells.append(payload[off:off + ln])
            off += ln
    return cells


def decode_binary(cell: bytes, oid: int):
    """Decode one binary-format value of the types the workloads read."""
    fmt = _BINARY_FIXED.get(oid)
    if fmt is not None:
        (v,) = struct.unpack(fmt, cell)
        return ("ts_us", v + PG_EPOCH_US) if oid == 1114 else v
    return cell.decode()


def decode_rows(raw_rows: list, columns: list, formats: list) -> list[tuple]:
    """Raw DataRow payloads -> tuples. Text cells stay ``str``; binary
    cells decode by type oid (see ``decode_binary``)."""
    fmts = formats or [0] * len(columns)
    out = []
    for payload in raw_rows:
        cells = _split_datarow(payload)
        row = []
        for cell, (_, oid), fmt in zip(cells, columns, fmts):
            if cell is None:
                row.append(None)
            elif fmt == 1:
                row.append(decode_binary(cell, oid))
            else:
                row.append(cell.decode())
        out.append(tuple(row))
    return out


class PgClient:
    """One connection. Every method blocks until the server's answer
    (through ReadyForQuery) has arrived."""

    def __init__(self, host: str, port: int, user: str = "postgres",
                 database: str = "postgres", timeout: float = 60.0):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()
        self.txn_status = b"I"
        body = struct.pack("!I", PROTOCOL_V3)
        for k, v in (("user", user), ("database", database)):
            body += k.encode() + b"\x00" + v.encode() + b"\x00"
        body += b"\x00"
        self.sock.sendall(struct.pack("!I", len(body) + 4) + body)
        while True:
            tag, payload = self._read()
            if tag == b"R":
                (code,) = struct.unpack_from("!I", payload, 0)
                if code != 0:
                    raise PgError({"C": "28000",
                                   "M": f"unsupported auth request {code}"})
            elif tag == b"E":
                raise PgError(_error_fields(payload))
            elif tag == b"Z":
                self.txn_status = payload
                return

    # -- framing -------------------------------------------------------
    def _fill(self, n: int) -> None:
        while len(self._buf) < n:
            chunk = self.sock.recv(1 << 18)
            if not chunk:
                raise ConnectionError("server closed the connection")
            self._buf += chunk

    def _read(self) -> tuple[bytes, bytes]:
        self._fill(5)
        tag = bytes(self._buf[:1])
        (length,) = struct.unpack_from("!I", self._buf, 1)
        self._fill(1 + length)
        payload = bytes(self._buf[5:1 + length])
        del self._buf[:1 + length]
        return tag, payload

    def _send(self, tag: bytes, payload: bytes) -> None:
        self.sock.sendall(tag + struct.pack("!I", len(payload) + 4) + payload)

    def close(self) -> None:
        try:
            self._send(b"X", b"")
        except OSError:
            pass
        self.sock.close()

    # -- response loop -------------------------------------------------
    def _collect(self, copy_in: bytes | None = None,
                 copy_out: list | None = None,
                 formats: list | None = None) -> list[Result]:
        """Read messages until ReadyForQuery; raise the first error."""
        results: list[Result] = []
        cur = Result(formats=list(formats or []))
        error = None
        while True:
            tag, payload = self._read()
            if tag == b"D":
                cur.raw_rows.append(payload)
            elif tag == b"T":
                cur.columns = _row_description(payload)
            elif tag == b"C":
                cur.tag = payload.rstrip(b"\x00").decode()
                results.append(cur)
                cur = Result(formats=list(formats or []))
            elif tag == b"s":  # PortalSuspended
                cur.suspended = True
                results.append(cur)
                cur = Result(formats=list(formats or []))
            elif tag == b"d":
                if copy_out is not None:
                    copy_out.append(payload)
            elif tag == b"G":  # CopyInResponse
                if copy_in is None:
                    self._send(b"f", b"no COPY data\x00")
                else:
                    view = memoryview(copy_in)
                    for off in range(0, len(copy_in), 1 << 16):
                        self._send(b"d", bytes(view[off:off + (1 << 16)]))
                    self._send(b"c", b"")
            elif tag == b"E":
                error = error or PgError(_error_fields(payload))
            elif tag == b"Z":
                self.txn_status = payload
                if error is not None:
                    raise error
                return results
            # ParameterStatus/ParseComplete/BindComplete/CloseComplete/NoData/
            # ParameterDescription/CopyOutResponse/CopyDone/Notice: skip

    # -- simple protocol -----------------------------------------------
    def query(self, sql: str) -> list[Result]:
        self._send(b"Q", sql.encode() + b"\x00")
        return self._collect()

    def query_one(self, sql: str) -> Result:
        results = self.query(sql)
        if len(results) != 1:
            raise RuntimeError(f"expected one result, got {len(results)}")
        return results[0]

    def copy_in(self, sql: str, data: bytes) -> Result:
        self._send(b"Q", sql.encode() + b"\x00")
        return self._collect(copy_in=data)[-1]

    def copy_out(self, sql: str) -> tuple[Result, list[bytes]]:
        chunks: list[bytes] = []
        self._send(b"Q", sql.encode() + b"\x00")
        res = self._collect(copy_out=chunks)[-1]
        return res, chunks

    # -- extended protocol ---------------------------------------------
    def parse(self, name: str, sql: str, param_oids=()) -> None:
        body = (name.encode() + b"\x00" + sql.encode() + b"\x00" +
                struct.pack("!H", len(param_oids)) +
                b"".join(struct.pack("!I", o) for o in param_oids))
        self._send(b"P", body)
        self._send(b"S", b"")
        self._collect()

    def describe_statement(self, name: str) -> list:
        """Describe a prepared statement; returns its (name, oid) columns."""
        self._send(b"D", b"S" + name.encode() + b"\x00")
        self._send(b"S", b"")
        cols: list = []
        error = None
        while True:
            tag, payload = self._read()
            if tag == b"T":
                cols = _row_description(payload)
            elif tag == b"E":
                error = error or PgError(_error_fields(payload))
            elif tag == b"Z":
                self.txn_status = payload
                if error is not None:
                    raise error
                return cols

    def execute_prepared(self, name: str, params=(), result_format: int = 0,
                         columns=None, portal: str = "",
                         max_rows: int = 0) -> list[Result]:
        """Bind text-format ``params`` into a portal over statement
        ``name`` and Execute it; with ``max_rows`` the portal is resumed
        until its CommandComplete. Each Execute round trip (one Sync)
        yields one Result; ``columns`` names the result types for
        decoding because Bind/Execute sends no RowDescription."""
        body = portal.encode() + b"\x00" + name.encode() + b"\x00"
        body += struct.pack("!HH", 0, len(params))
        for p in params:
            if p is None:
                body += struct.pack("!i", -1)
            else:
                b = str(p).encode()
                body += struct.pack("!i", len(b)) + b
        body += struct.pack("!HH", 1, result_format)
        self._send(b"B", body)
        execute = portal.encode() + b"\x00" + struct.pack("!I", max_rows)
        self._send(b"E", execute)
        self._send(b"S", b"")
        out = []
        while True:
            res = self._collect(formats=[result_format] * len(columns or []))
            for r in res:
                r.columns = list(columns or [])
            out.extend(res)
            if not (res and res[-1].suspended):
                return out
            self._send(b"E", execute)
            self._send(b"S", b"")


def _row_description(payload: bytes) -> list:
    (n,) = struct.unpack_from("!H", payload, 0)
    off, cols = 2, []
    for _ in range(n):
        end = payload.index(b"\x00", off)
        name = payload[off:end].decode()
        (oid,) = struct.unpack_from("!I", payload, end + 7)
        cols.append((name, oid))
        off = end + 1 + 18
    return cols


def _error_fields(payload: bytes) -> dict:
    out = {}
    for part in payload.split(b"\x00"):
        if part:
            out[part[:1].decode()] = part[1:].decode("utf-8", "replace")
    return out
