"""Minimal PostgreSQL V3 frontend over asyncio, built for measuring.

Only what the workloads send: startup (trust auth), simple Query,
Parse/Bind/Execute/Sync, COPY TO STDOUT and COPY FROM STDIN. Responses are
parsed from a byte buffer in a synchronous inner loop, so a 600k-row scan
costs one ``await`` per socket read rather than one per message. Every
response records what the client saw: bytes and messages received, the
time of the first response byte and of the first row, the CRC-32 of the
raw DataRow (or CopyData) bytes, and the rows themselves when asked for.
"""

from __future__ import annotations

import asyncio
import struct
import time
import zlib
from dataclasses import dataclass, field

PROTOCOL_V3 = 196608
_HDR = struct.Struct("!cI")
_I32 = struct.Struct("!i")
_I16 = struct.Struct("!h")

INT8_OID = 20


class PGError(Exception):
    """An ErrorResponse from the server (fields by their one-letter code)."""

    def __init__(self, fields: dict[str, str]):
        self.fields = fields
        super().__init__(f"{fields.get('C', '?????')}: {fields.get('M', '')}")


def now_ns() -> int:
    # CLOCK_MONOTONIC: comparable with the traced server's span clock
    return time.monotonic_ns()


def frame(tag: bytes, body: bytes = b"") -> bytes:
    """One frontend message: tag byte, int32 length (itself included), body."""
    return tag + _I32.pack(len(body) + 4) + body


def _cstr(s: str) -> bytes:
    return s.encode() + b"\0"


def startup_message(user: str, database: str) -> bytes:
    body = _I32.pack(PROTOCOL_V3) + _cstr("user") + _cstr(user)
    body += _cstr("database") + _cstr(database) + b"\0"
    return _I32.pack(len(body) + 4) + body


def query_message(sql: str) -> bytes:
    return frame(b"Q", _cstr(sql))


def parse_message(name: str, sql: str, oids: list[int]) -> bytes:
    body = _cstr(name) + _cstr(sql) + _I16.pack(len(oids))
    body += b"".join(_I32.pack(o) for o in oids)
    return frame(b"P", body)


def bind_message(stmt: str, params: list[str | None], portal: str = "") -> bytes:
    body = _cstr(portal) + _cstr(stmt) + _I16.pack(0) + _I16.pack(len(params))
    for p in params:
        if p is None:
            body += _I32.pack(-1)
        else:
            b = p.encode()
            body += _I32.pack(len(b)) + b
    body += _I16.pack(0)  # all results in text format
    return frame(b"B", body)


def execute_message(portal: str = "", max_rows: int = 0) -> bytes:
    return frame(b"E", _cstr(portal) + _I32.pack(max_rows))


SYNC = frame(b"S")
TERMINATE = frame(b"X")
COPY_DONE = frame(b"c")


def decode_datarow(body) -> tuple:
    (n,) = _I16.unpack_from(body, 0)
    pos, cells = 2, []
    for _ in range(n):
        (ln,) = _I32.unpack_from(body, pos)
        pos += 4
        if ln < 0:
            cells.append(None)
        else:
            cells.append(bytes(body[pos:pos + ln]).decode())
            pos += ln
    return tuple(cells)


def decode_rowdesc(body) -> list[tuple[str, int]]:
    """[(column name, type oid)] from a RowDescription body."""
    (n,) = _I16.unpack_from(body, 0)
    pos, out = 2, []
    for _ in range(n):
        end = body.index(b"\0", pos)
        name = bytes(body[pos:end]).decode()
        pos = end + 1
        _table, _attnum, oid = struct.unpack_from("!ihi", body, pos)
        pos += 18
        out.append((name, oid))
    return out


def decode_error(body) -> dict[str, str]:
    fields, pos = {}, 0
    raw = bytes(body)
    while pos < len(raw) and raw[pos] != 0:
        end = raw.index(b"\0", pos + 1)
        fields[chr(raw[pos])] = raw[pos + 1:end].decode(errors="replace")
        pos = end + 1
    return fields


@dataclass
class Response:
    """What one statement (up to ReadyForQuery) looked like on the wire."""

    t_sent: int = 0
    t_first_byte: int = 0
    t_first_row: int = 0
    t_last_row: int = 0
    t_done: int = 0
    nbytes: int = 0
    msgs: int = 0
    nrows: int = 0
    row_crc: int = 0
    row_bytes: int = 0
    copy_out_bytes: int = 0
    tags: list[str] = field(default_factory=list)
    columns: list[tuple[str, int]] = field(default_factory=list)
    rows: list[tuple] = field(default_factory=list)
    error: PGError | None = None
    copy_in: bool = False


class Connection:
    """One client connection. Not safe to share between tasks."""

    def __init__(self, reader: asyncio.StreamReader, writer: asyncio.StreamWriter):
        self._r = reader
        self._w = writer
        self._buf = bytearray()
        self._pos = 0
        self.pid = 0
        self.secret = 0
        #: statements (Query or Sync-terminated groups) sent so far — the
        #: server-side trace numbers statements the same way per connection
        self.statements = 0

    @classmethod
    async def open(cls, host: str, port: int, user: str = "bench",
                   database: str = "bench") -> tuple["Connection", Response]:
        r, w = await asyncio.open_connection(host, port)
        conn = cls(r, w)
        resp = Response(t_sent=now_ns())
        w.write(startup_message(user, database))
        await w.drain()
        await conn._read_until_ready(resp, collect=False)
        if resp.error:
            raise resp.error
        return conn, resp

    async def close(self) -> None:
        try:
            self._w.write(TERMINATE)
            await self._w.drain()
        except ConnectionError:
            pass
        self._w.close()
        try:
            await self._w.wait_closed()
        except ConnectionError:
            pass

    async def _send(self, data: bytes) -> Response:
        resp = Response(t_sent=now_ns())
        self._w.write(data)
        await self._w.drain()
        return resp

    async def query(self, sql: str, collect: bool = True) -> Response:
        """Simple-protocol Query; ``collect`` keeps decoded rows."""
        self.statements += 1
        resp = await self._send(query_message(sql))
        await self._read_until_ready(resp, collect)
        return resp

    async def prepare(self, name: str, sql: str, oids: list[int]) -> Response:
        self.statements += 1
        resp = await self._send(parse_message(name, sql, oids) + SYNC)
        await self._read_until_ready(resp, collect=False)
        return resp

    async def execute(self, name: str, params: list[str | None],
                      collect: bool = True) -> Response:
        """Bind + Execute + Sync of a named prepared statement."""
        self.statements += 1
        resp = await self._send(bind_message(name, params) + execute_message() + SYNC)
        await self._read_until_ready(resp, collect)
        return resp

    async def copy_in(self, sql: str, payload: bytes, chunk: int = 1 << 16
                      ) -> tuple[Response, int, int]:
        """COPY ... FROM STDIN; returns (response, send_ns, commit_ns)."""
        self.statements += 1
        resp = await self._send(query_message(sql))
        await self._read_until_ready(resp, collect=False)
        if not resp.copy_in:
            if resp.error is None:
                resp.error = PGError({"M": "server did not enter COPY IN"})
            return resp, 0, 0
        t0 = now_ns()
        view = memoryview(payload)
        for i in range(0, len(payload), chunk):
            self._w.write(frame(b"d", bytes(view[i:i + chunk])))
            await self._w.drain()
        t1 = now_ns()
        self._w.write(COPY_DONE)
        await self._w.drain()
        await self._read_until_ready(resp, collect=False)
        return resp, t1 - t0, resp.t_done - t1

    async def _fill(self, resp: Response) -> None:
        chunk = await self._r.read(1 << 18)
        if not chunk:
            raise ConnectionError("server closed the connection")
        if not resp.t_first_byte:
            resp.t_first_byte = now_ns()
        if self._pos:
            del self._buf[:self._pos]
            self._pos = 0
        self._buf += chunk
        resp.nbytes += len(chunk)

    async def _read_until_ready(self, resp: Response, collect: bool) -> None:
        """Consume messages until ReadyForQuery or CopyInResponse."""
        while True:
            if self._parse(resp, collect):
                resp.t_done = now_ns()
                return
            await self._fill(resp)

    def _parse(self, resp: Response, collect: bool) -> bool:
        """Handle every complete message in the buffer; True when done."""
        buf, pos, end = self._buf, self._pos, len(self._buf)
        run_start = -1  # start of the current run of DataRow/CopyData bytes
        try:
            while pos + 5 <= end:
                tag, ln = _HDR.unpack_from(buf, pos)
                if pos + 1 + ln > end:
                    break
                body_at, nxt = pos + 5, pos + 1 + ln
                resp.msgs += 1
                if tag == b"D" or tag == b"d":
                    if run_start < 0:
                        run_start = pos
                    if tag == b"D":
                        resp.nrows += 1
                        if collect:
                            resp.rows.append(decode_datarow(buf[body_at:nxt]))
                    else:
                        resp.copy_out_bytes += ln - 4
                        resp.nrows += buf.count(b"\n", body_at, nxt)
                    if not resp.t_first_row:
                        resp.t_first_row = now_ns()
                    pos = nxt
                    continue
                if run_start >= 0:
                    resp.row_crc = zlib.crc32(buf[run_start:pos], resp.row_crc)
                    resp.row_bytes += pos - run_start
                    run_start = -1
                    resp.t_last_row = now_ns()
                body = bytes(buf[body_at:nxt])
                pos = nxt
                if tag == b"Z":
                    return True
                if tag == b"T":
                    resp.columns = decode_rowdesc(body)
                elif tag == b"C":
                    resp.tags.append(bytes(body[:-1]).decode())
                elif tag == b"E":
                    resp.error = PGError(decode_error(body))
                elif tag == b"K":
                    self.pid, self.secret = struct.unpack_from("!ii", body)
                elif tag == b"G":
                    resp.copy_in = True
                    return True
                elif tag == b"R":
                    (code,) = _I32.unpack_from(body, 0)
                    if code != 0:
                        raise PGError({"M": f"unsupported auth request {code}"})
                # '1','2','3','n','s','t','N','S','H','c','I': nothing to record
            return False
        finally:
            if run_start >= 0:
                resp.row_crc = zlib.crc32(buf[run_start:pos], resp.row_crc)
                resp.row_bytes += pos - run_start
                resp.t_last_row = now_ns()
            self._pos = pos
