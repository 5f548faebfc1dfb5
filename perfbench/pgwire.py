"""Minimal PostgreSQL v3 simple-query client.

The benchmark drives the engine's wire frontend the way an external
client would: one TCP connection per simulated user, startup without
SSL, then ``Q`` messages. Only what the benchmark needs is here: text
result rows, command tags and error responses.
"""

from __future__ import annotations

import socket
import struct

_PROTOCOL_V3 = 196608


class PgError(RuntimeError):
    """The server answered a statement with an ErrorResponse."""


class PgConnection:
    def __init__(self, host: str, port: int, timeout: float = 120.0) -> None:
        self._sock = socket.create_connection((host, port), timeout=timeout)
        self._sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self._buf = bytearray()
        params = b"user\x00bench\x00database\x00bench\x00\x00"
        self._sock.sendall(struct.pack("!ii", 8 + len(params), _PROTOCOL_V3) + params)
        self._until_ready()

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack("!i", 4))
        except OSError:
            pass
        self._sock.close()

    def __enter__(self) -> "PgConnection":
        return self

    def __exit__(self, *exc) -> None:
        self.close()

    def query(self, sql: str) -> tuple[list[str], list[tuple], str, int]:
        """Run one statement; returns (columns, rows, command tag,
        bytes received). Rows hold text values or None."""
        payload = sql.encode() + b"\x00"
        self._sock.sendall(b"Q" + struct.pack("!i", len(payload) + 4) + payload)
        cols: list[str] = []
        rows: list[tuple] = []
        tag = ""
        error = None
        nbytes = 0
        for kind, body in self._messages():
            nbytes += len(body) + 5
            if kind == b"T":
                cols = _row_description(body)
            elif kind == b"D":
                rows.append(_data_row(body))
            elif kind == b"C":
                tag = body.rstrip(b"\x00").decode()
            elif kind == b"E":
                error = _error_text(body)
            elif kind == b"Z":
                break
        if error is not None:
            raise PgError(error)
        return cols, rows, tag, nbytes

    # -- framing ---------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(max(65536, n - len(self._buf)))
            if not chunk:
                raise ConnectionError("server closed the connection")
            self._buf += chunk
        out = bytes(self._buf[:n])
        del self._buf[:n]
        return out

    def _messages(self):
        while True:
            head = self._recv_exact(5)
            length = struct.unpack("!i", head[1:5])[0]
            yield head[:1], self._recv_exact(length - 4)

    def _until_ready(self) -> None:
        for kind, body in self._messages():
            if kind == b"E":
                raise PgError(_error_text(body))
            if kind == b"Z":
                return


def _row_description(body: bytes) -> list[str]:
    n = struct.unpack("!h", body[:2])[0]
    pos, cols = 2, []
    for _ in range(n):
        end = body.index(b"\x00", pos)
        cols.append(body[pos:end].decode())
        pos = end + 1 + 18
    return cols


def _data_row(body: bytes) -> tuple:
    n = struct.unpack("!h", body[:2])[0]
    pos, vals = 2, []
    for _ in range(n):
        ln = struct.unpack("!i", body[pos:pos + 4])[0]
        pos += 4
        if ln < 0:
            vals.append(None)
        else:
            vals.append(body[pos:pos + ln].decode())
            pos += ln
    return tuple(vals)


def _error_text(body: bytes) -> str:
    fields = {}
    for part in body.split(b"\x00"):
        if part:
            fields[part[:1]] = part[1:].decode(errors="replace")
    return f"{fields.get(b'C', '')}: {fields.get(b'M', '')}"
