"""The load generator's side of the MySQL text protocol.

One connection, one statement in flight: ``query`` sends COM_QUERY and
returns only after the whole reply (every row packet and the terminator)
has arrived, so a timed call covers the full round trip a ``mysql`` user
waits for.  Written from the public packet layouts, with no client
library, like the server it talks to.
"""

from __future__ import annotations

import socket
import struct
from dataclasses import dataclass, field

CLIENT_PROTOCOL_41 = 0x0200
CLIENT_DEPRECATE_EOF = 0x0100_0000
_CHUNK = 0xFFFFFF


class ServerError(RuntimeError):
    """The server answered a statement with an ERR packet."""


@dataclass
class Reply:
    columns: list[str] = field(default_factory=list)
    #: text-protocol cells; None is SQL NULL
    rows: list[tuple] = field(default_factory=list)
    affected: int = 0


def _lenenc(buf: bytes, pos: int) -> tuple[int | None, int]:
    b0 = buf[pos]
    if b0 < 0xFB:
        return b0, pos + 1
    if b0 == 0xFB:
        return None, pos + 1
    if b0 == 0xFC:
        return struct.unpack_from("<H", buf, pos + 1)[0], pos + 3
    if b0 == 0xFD:
        return int.from_bytes(buf[pos + 1:pos + 4], "little"), pos + 4
    return struct.unpack_from("<Q", buf, pos + 1)[0], pos + 9


def _row(payload: bytes, ncols: int) -> tuple:
    out, pos = [], 0
    for _ in range(ncols):
        n, pos = _lenenc(payload, pos)
        if n is None:
            out.append(None)
        else:
            out.append(payload[pos:pos + n].decode("utf-8", "replace"))
            pos += n
    return tuple(out)


class Connection:
    def __init__(self, port: int, timeout: float = 170.0):
        self.sock = socket.create_connection(("127.0.0.1", port),
                                             timeout=timeout)
        self._buf = self.sock.makefile("rb")
        seq, greeting = self._read()
        if greeting[0] != 0x0A:
            raise ConnectionError(f"unexpected greeting {greeting[:8]!r}")
        caps = CLIENT_PROTOCOL_41 | CLIENT_DEPRECATE_EOF
        self._write(seq + 1, struct.pack("<II", caps, _CHUNK) + bytes([33])
                    + b"\x00" * 23 + b"bench\x00" + b"\x00")
        _, ok = self._read()
        if ok[0] != 0x00:
            raise ConnectionError(f"handshake refused: {ok!r}")

    def _read(self) -> tuple[int, bytes]:
        payload = b""
        while True:
            header = self._buf.read(4)
            if len(header) < 4:
                raise ConnectionError("server closed the connection")
            n = header[0] | header[1] << 8 | header[2] << 16
            payload += self._buf.read(n)
            if n < _CHUNK:
                return header[3], payload

    def _write(self, seq: int, payload: bytes) -> None:
        self.sock.sendall(struct.pack("<I", len(payload))[:3]
                          + bytes([seq & 0xFF]) + payload)

    def query(self, sql: str) -> Reply:
        """Run one statement; raises :class:`ServerError` on an ERR reply."""
        self._write(0, b"\x03" + sql.encode())
        reply = Reply()
        _, first = self._read()
        if first[0] == 0xFF:
            raise ServerError(first[9:].decode("utf-8", "replace"))
        if first[0] == 0x00:
            reply.affected = _lenenc(first, 1)[0]
            return reply
        ncols = _lenenc(first, 0)[0]
        for _ in range(ncols):
            _, col = self._read()
            pos = 0
            for _ in range(4):  # catalog, schema, table, org_table
                n, pos = _lenenc(col, pos)
                pos += n
            n, pos = _lenenc(col, pos)
            reply.columns.append(col[pos:pos + n].decode())
        while True:
            _, pkt = self._read()
            if pkt[0] == 0xFF:
                raise ServerError(pkt[9:].decode("utf-8", "replace"))
            if pkt[0] == 0xFE:
                return reply  # OK packet with the EOF header: end of rows
            reply.rows.append(_row(pkt, ncols))

    def close(self) -> None:
        try:
            self._write(0, b"\x01")  # COM_QUIT
        except OSError:
            pass
        self._buf.close()
        self.sock.close()
