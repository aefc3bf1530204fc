"""Minimal MySQL wire-protocol server over ``Engine.execute_statement``.

The reference serves its engine over the MySQL client/server protocol
(server/src/mysql/mod.rs:38-130: handshake, then a command loop handling
COM_QUIT / COM_PING / COM_INIT_DB / COM_QUERY with text resultsets) so any
stock ``mysql`` client can connect (README.md:47-56).  This is the same
surface re-expressed in Python over the Spark-backed Engine:

- protocol::41 handshake v10 (any username/password accepted — the
  reference likewise does no real auth),
- COM_QUERY → column-definition packets + text rows (lenenc encoding),
- OK / ERR packets for DDL/DML and failures,
- one engine per server, one session db per connection (COM_INIT_DB / USE),
- ``KILL [QUERY] <connection_id>`` cancels that connection's running
  statement (the reference's per-session kill_flag, data/src/session.rs:10,
  set by the runtime kill path runtime/src/lib.rs:90-131) — handled outside
  the statement lock so it reaches the engine while the victim runs.

Everything here is the public documented protocol (packet framing, lenenc
integers, handshake/OK/EOF/ERR layouts, text resultset flow) — no
third-party driver needed on either side, which also keeps the integration
test self-contained (tests/test_server_mysql.py implements the client half
from the same public layouts).

Scale note: the server is a thin control-plane — each query still executes
as a distributed Spark job; only the final result rows stream through this
socket, matching the reference's collect-then-send contract
(EngineResult.rows are already materialized aggregates / LIMITed slices).
"""

from __future__ import annotations

import re
import socket
import socketserver
import struct
import threading
from typing import Iterable

#: ``KILL [QUERY] <connection_id>`` — MySQL's kill syntax mapped onto the
#: engine's per-session cancel (reference kill path, runtime/src/lib.rs:90-131)
_KILL_RE = re.compile(r"\s*KILL\s+(?:QUERY\s+)?(\d+)\s*;?\s*$", re.IGNORECASE)

# ---- capability flags (public protocol constants) --------------------------
CLIENT_PROTOCOL_41 = 0x0200
CLIENT_DEPRECATE_EOF = 0x0100_0000
CLIENT_PLUGIN_AUTH = 0x0008_0000

SERVER_STATUS_AUTOCOMMIT = 0x0002

# command bytes
COM_QUIT = 0x01
COM_INIT_DB = 0x02
COM_QUERY = 0x03
COM_PING = 0x0E

#: Spark simpleString prefix → MySQL column type byte
_MYSQL_TYPES = {
    "tinyint": 0x01,   # TINY
    "smallint": 0x02,  # SHORT
    "int": 0x03,       # LONG
    "double": 0x05,    # DOUBLE
    "bigint": 0x08,    # LONGLONG
    "date": 0x0A,      # DATE
    "timestamp": 0x0C,  # DATETIME
    "boolean": 0x01,   # TINY (MySQL bools are TINY(1))
    "decimal": 0xF6,   # NEWDECIMAL
    "string": 0xFD,    # VAR_STRING
}


def _mysql_type(simple: str) -> int:
    for prefix, code in _MYSQL_TYPES.items():
        if simple.startswith(prefix):
            return code
    return 0xFD


# ---- wire primitives -------------------------------------------------------
def lenenc_int(n: int) -> bytes:
    if n < 0xFB:
        return bytes([n])
    if n < 2**16:
        return b"\xfc" + struct.pack("<H", n)
    if n < 2**24:
        return b"\xfd" + struct.pack("<I", n)[:3]
    return b"\xfe" + struct.pack("<Q", n)


def lenenc_str(s: bytes) -> bytes:
    return lenenc_int(len(s)) + s


def read_exact(sock: socket.socket, n: int) -> bytes:
    buf = b""
    while len(buf) < n:
        chunk = sock.recv(n - len(buf))
        if not chunk:
            raise ConnectionError("peer closed")
        buf += chunk
    return buf


_MAX_CHUNK = 0xFFFFFF  # protocol chunk size: a logical packet >= 16MB-1
# is split into max-size frames; a frame of exactly 0xFFFFFF bytes means
# "continued in the next frame" (an empty terminator frame follows an
# exact multiple)


def read_packet(sock: socket.socket) -> tuple[int, bytes]:
    """One LOGICAL packet: 3-byte LE length + 1-byte sequence id per frame,
    reassembling the >=16MB continuation chain."""
    payload = b""
    while True:
        header = read_exact(sock, 4)
        length = header[0] | (header[1] << 8) | (header[2] << 16)
        seq = header[3]
        payload += read_exact(sock, length)
        if length < _MAX_CHUNK:
            return seq, payload


def write_packet(sock: socket.socket, seq: int, payload: bytes) -> int:
    """Send one logical packet, splitting into 0xFFFFFF-byte frames per the
    protocol; returns the next sequence id."""
    offset = 0
    while True:
        chunk = payload[offset : offset + _MAX_CHUNK]
        sock.sendall(
            struct.pack("<I", len(chunk))[:3] + bytes([seq & 0xFF]) + chunk
        )
        seq += 1
        offset += len(chunk)
        if len(chunk) < _MAX_CHUNK:
            return seq


# ---- packet payloads -------------------------------------------------------
def handshake_v10(thread_id: int, capabilities: int) -> bytes:
    """Initial handshake packet (protocol version 10)."""
    auth_seed = b"12345678"  # no real auth, like the reference
    return (
        b"\x0a"                                  # protocol version
        + b"8.0.0-incresql-spark\x00"            # server version
        + struct.pack("<I", thread_id)
        + auth_seed + b"\x00"                    # auth-plugin-data part 1
        + struct.pack("<H", capabilities & 0xFFFF)
        + bytes([33])                            # charset utf8_general_ci
        + struct.pack("<H", SERVER_STATUS_AUTOCOMMIT)
        + struct.pack("<H", (capabilities >> 16) & 0xFFFF)
        + bytes([21])                            # auth plugin data len
        + b"\x00" * 10                           # reserved
        + b"123456789012\x00"                    # auth-plugin-data part 2
        + b"mysql_native_password\x00"
    )


def ok_packet(client_caps: int, affected: int = 0, eof_header: bool = False) -> bytes:
    head = b"\xfe" if eof_header else b"\x00"
    return (
        head
        + lenenc_int(affected)
        + lenenc_int(0)  # last insert id
        + struct.pack("<H", SERVER_STATUS_AUTOCOMMIT)
        + struct.pack("<H", 0)  # warnings
    )


def eof_packet() -> bytes:
    return b"\xfe" + struct.pack("<H", 0) + struct.pack("<H", SERVER_STATUS_AUTOCOMMIT)


def err_packet(msg: str, code: int = 1105, sql_state: str = "HY000") -> bytes:
    return (
        b"\xff"
        + struct.pack("<H", code)
        + b"#" + sql_state.encode()
        + msg.encode("utf-8", "replace")
    )


def column_packet(name: str, type_code: int) -> bytes:
    """Column definition 41 (the reference's write_column_packet)."""
    return (
        lenenc_str(b"def")      # catalog
        + lenenc_str(b"")       # schema
        + lenenc_str(b"")       # table
        + lenenc_str(b"")       # org_table
        + lenenc_str(name.encode())
        + lenenc_str(name.encode())  # org_name
        + b"\x0c"               # fixed-length fields length
        + struct.pack("<H", 33)  # charset
        + struct.pack("<I", 255)  # column display length
        + bytes([type_code])
        + struct.pack("<H", 0)  # flags
        + b"\x00"               # decimals
        + b"\x00\x00"           # filler
    )


def format_value(v) -> str | None:
    """Text-protocol cell rendering — the reference's tuple→text mapping
    (NULL → protocol NULL byte; bools as MySQL TINY 1/0)."""
    if v is None:
        return None
    if isinstance(v, bool):
        return "1" if v else "0"
    return str(v)


def row_packet(values: Iterable) -> bytes:
    out = b""
    for v in values:
        s = format_value(v)
        out += b"\xfb" if s is None else lenenc_str(s.encode("utf-8", "replace"))
    return out


# ---- server ---------------------------------------------------------------
class MySqlServer:
    """Serve an :class:`incresql_spark.engine.Engine` over the MySQL
    protocol.  ``serve_background()`` runs the accept loop in a daemon
    thread and returns the bound port (0 → ephemeral)."""

    SERVER_CAPS = CLIENT_PROTOCOL_41 | CLIENT_PLUGIN_AUTH | CLIENT_DEPRECATE_EOF

    def __init__(self, engine, host: str = "127.0.0.1", port: int = 3307):
        self.engine = engine
        self.host = host
        self.port = port
        self._server: socketserver.ThreadingTCPServer | None = None
        self._threads = 0
        self._lock = threading.Lock()  # Engine mutates session state per stmt
        self._id_lock = threading.Lock()  # connection-id counter only —
        # handshakes must not wait behind a long-running statement

    # one statement at a time: the engine holds per-session current_db and
    # temp-view registrations; serialize statements like the reference's
    # per-connection executor (concurrent Spark jobs gain little on one
    # SparkContext and would interleave USE/DDL state).  KILL is the one
    # exception: it is a control command that must reach the engine WHILE
    # another connection's statement holds the lock (that statement is
    # exactly what it kills) — the reference's kill path likewise bypasses
    # the session executor (runtime/src/lib.rs:90-131).
    def _execute(self, sql: str, session_id: int | None = None):
        m = _KILL_RE.match(sql)
        if m:
            self.engine.cancel(int(m.group(1)))
            from ..engine import EngineResult

            return EngineResult()
        with self._lock:
            # stream=True: SELECT results are NOT collected here — the
            # row loop in _query runs the query AFTER this lock is
            # released, collected under a fence of WIRE_COLLECT_ROWS rows
            # and streamed past it (a slow client must not block other
            # connections' statements; the reference likewise streams
            # per-connection, server/src/mysql/mod.rs:103-111).  The plan
            # is resolved under the lock, so concurrent DDL after release
            # can at worst fail the scan loudly mid-stream (ERR packet),
            # never corrupt it.
            return self.engine.execute_statement(
                sql, session_id=session_id, stream=True)

    def _handle(self, sock: socket.socket) -> None:
        with self._id_lock:
            self._threads += 1
            thread_id = self._threads
        seq = write_packet(sock, 0, handshake_v10(thread_id, self.SERVER_CAPS))
        seq, payload = read_packet(sock)
        client_caps = struct.unpack("<I", payload[:4])[0]
        write_packet(sock, seq + 1, ok_packet(client_caps))

        deprecate_eof = bool(client_caps & CLIENT_DEPRECATE_EOF)
        while True:
            try:
                _, payload = read_packet(sock)
            except (ConnectionError, OSError):
                return
            if not payload:
                return
            cmd, body = payload[0], payload[1:]
            if cmd == COM_QUIT:
                return
            if cmd == COM_PING:
                write_packet(sock, 1, ok_packet(client_caps))
                continue
            if cmd == COM_INIT_DB:
                try:
                    self._execute(f"USE {body.decode()}")
                    write_packet(sock, 1, ok_packet(client_caps))
                except Exception as exc:  # noqa: BLE001 — protocol boundary
                    write_packet(sock, 1, err_packet(str(exc), code=1049))
                continue
            if cmd == COM_QUERY:
                self._query(sock, body.decode("utf-8", "replace"), client_caps,
                            deprecate_eof, thread_id)
                continue
            write_packet(sock, 1, err_packet("unknown command", code=1047))

    @staticmethod
    def _err_text(exc: BaseException) -> str:
        """First line of the exception message for an ERR packet; an
        exception with an EMPTY message must still produce a packet
        (round-13 review: splitlines()[0] raised IndexError there, tearing
        the connection down instead of keeping it framed)."""
        lines = str(exc).splitlines()
        return (lines[0] if lines else exc.__class__.__name__)[:500]

    def _query(
        self, sock, sql: str, caps: int, deprecate_eof: bool,
        session_id: int | None = None,
    ) -> None:
        try:
            res = self._execute(sql, session_id=session_id)
        except Exception as exc:  # noqa: BLE001 — every engine error → ERR packet
            write_packet(sock, 1, err_packet(self._err_text(exc)))
            return
        if not res.columns:
            write_packet(sock, 1, ok_packet(caps, affected=len(res.rows)))
            return
        # iter_rows serves a SELECT from one collect under a fence of
        # WIRE_COLLECT_ROWS rows and streams only a result past it, one
        # partition at a time (driver memory O(min(result, fence)) plus
        # a partition, not O(result)).  The FIRST row is pulled
        # BEFORE the resultset header goes out: execution errors that
        # surface up front (unknown column at bind time, a KILL landing
        # during the fenced collect — the common cases) become a clean
        # top-level ERR packet every client understands.  An error after
        # rows have flowed becomes an in-resultset ERR packet, which the
        # protocol permits, so the connection stays framed either way.
        _END = object()
        rows_it = res.iter_rows()
        try:
            first = next(rows_it, _END)
        except Exception as exc:  # noqa: BLE001 — protocol boundary
            write_packet(sock, 1, err_packet(self._err_text(exc)))
            return
        types = [
            _mysql_type(f.dataType.simpleString()) for f in res.df.schema.fields
        ] if res.df is not None else [0xFD] * len(res.columns)
        seq = write_packet(sock, 1, lenenc_int(len(res.columns)))
        for name, tc in zip(res.columns, types):
            seq = write_packet(sock, seq, column_packet(name, tc))
        if not deprecate_eof:
            seq = write_packet(sock, seq, eof_packet())
        try:
            if first is not _END:
                seq = write_packet(sock, seq, row_packet(first))
                for row in rows_it:
                    seq = write_packet(sock, seq, row_packet(row))
        except Exception as exc:  # noqa: BLE001 — protocol boundary
            write_packet(sock, seq, err_packet(self._err_text(exc)))
            return
        if deprecate_eof:
            write_packet(sock, seq, ok_packet(caps, eof_header=True))
        else:
            write_packet(sock, seq, eof_packet())

    def serve_background(self) -> int:
        outer = self

        class Handler(socketserver.BaseRequestHandler):
            def handle(self) -> None:
                try:
                    outer._handle(self.request)
                except (ConnectionError, OSError):
                    pass

        socketserver.ThreadingTCPServer.allow_reuse_address = True
        self._server = socketserver.ThreadingTCPServer(
            (self.host, self.port), Handler
        )
        self._server.daemon_threads = True
        self.port = self._server.server_address[1]
        threading.Thread(target=self._server.serve_forever, daemon=True).start()
        return self.port

    def shutdown(self) -> None:
        if self._server is not None:
            self._server.shutdown()
            self._server.server_close()
            self._server = None
