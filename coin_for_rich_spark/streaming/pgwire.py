"""Minimal PostgreSQL v3 wire-protocol client — pure stdlib, no driver.

The engine's one PostgreSQL transport: ``PgWireMergeSink`` stages, merges,
creates its table and reads it back through this client. Staging runs on
the executors — each non-empty partition of a micro-batch, as it arrives,
COPYs into an UNLOGGED staging table from its own task, then the driver
runs ONE set-based merge transaction — so the transport has to work from
inside executor tasks with no JDBC driver jar and no client binary. It
speaks the wire protocol directly: the startup handshake, the simple-query
cycle, and COPY-IN / COPY-OUT streaming are ~200 lines of framing (public
protocol, documented in the PostgreSQL manual, "Frontend/Backend
Protocol").

Scope, honestly: trust authentication only (password/SASL raise — the
ephemeral in-repo server and typical CI sidecars run trust; a production
deployment with md5/SCRAM wants a real driver), COPY payloads in binary or
text format on write and text on read (the client frames the bytes; the
caller encodes them), simple query protocol. Errors surface as
``PgError`` with the server's message.
"""

from __future__ import annotations

import socket
import struct
from collections.abc import Iterable


class PgError(RuntimeError):
    """Server-reported error (severity + message + detail when present)."""


def conninfo_params(conninfo: list[str]) -> dict[str, str]:
    """Parse the ``["-h", host, "-U", user, "-d", db, "-p", port]`` psql
    argument convention the engine's sinks share into wire-client kwargs.

    Long-form flags (``--host=x``) and one positional dbname (psql accepts
    it) are understood too; anything ELSE is a hard error — a
    silently-dropped ``--user=ingest`` would make the sink merge into
    ``postgres``/``postgres`` instead of where the caller intended, a
    data-placement error no message ever surfaces."""
    out: dict[str, str] = {}
    flags = {"-h": "host", "-U": "user", "-d": "database", "-p": "port"}
    long_flags = {
        "--host": "host", "--username": "user", "--user": "user",
        "--dbname": "database", "--port": "port",
    }
    i = 0
    while i < len(conninfo):
        tok = conninfo[i]
        key = flags.get(tok)
        if key is not None:
            if i + 1 >= len(conninfo):
                raise ValueError(f"conninfo flag {tok!r} is missing its value")
            out[key] = conninfo[i + 1]
            i += 2
            continue
        if tok.startswith("--") and "=" in tok:
            name, _, val = tok.partition("=")
            lkey = long_flags.get(name)
            if lkey is None:
                raise ValueError(f"unrecognized conninfo flag {tok!r}")
            out[lkey] = val
            i += 1
            continue
        if not tok.startswith("-") and "database" not in out:
            out["database"] = tok  # psql's positional dbname
            i += 1
            continue
        raise ValueError(f"unrecognized conninfo argument {tok!r}")
    return out


class PgWireClient:
    """One connection. ``host`` starting with '/' is a unix-socket
    directory (PostgreSQL convention: ``<dir>/.s.PGSQL.<port>``)."""

    def __init__(
        self,
        host: str,
        user: str = "postgres",
        database: str = "postgres",
        port: int | str = 5432,
        timeout: float = 60.0,
    ) -> None:
        if host.startswith("/"):
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            self._sock.settimeout(timeout)
            self._sock.connect(f"{host}/.s.PGSQL.{int(port)}")
        else:
            self._sock = socket.create_connection((host, int(port)), timeout)
        self._buf = bytearray()
        self._pos = 0
        try:
            self._startup(user, database)
        except Exception:
            # __init__ never completed, so close()/__exit__ can never run —
            # without this a retry loop against an unsupported-auth server
            # accumulates open fds until GC
            self._sock.close()
            raise

    # -- framing ----------------------------------------------------------
    def _send(self, typ: bytes, payload: bytes) -> None:
        self._sock.sendall(typ + struct.pack(">I", 4 + len(payload)) + payload)

    def _read_exact(self, n: int) -> bytes:
        # offset cursor, not re-slicing: buf[n:] would copy the whole
        # unread remainder per message (quadratic over a large response)
        while len(self._buf) - self._pos < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError("server closed the connection")
            self._buf += chunk
        out = bytes(self._buf[self._pos : self._pos + n])
        self._pos += n
        if self._pos >= 65536:
            del self._buf[: self._pos]
            self._pos = 0
        return out

    def _read_message(self) -> tuple[bytes, bytes]:
        head = self._read_exact(5)
        typ = head[:1]
        (length,) = struct.unpack(">I", head[1:5])
        return typ, self._read_exact(length - 4)

    @staticmethod
    def _error_fields(payload: bytes) -> str:
        fields: dict[bytes, str] = {}
        for part in payload.split(b"\x00"):
            if part:
                fields[part[:1]] = part[1:].decode(errors="replace")
        parts = [fields.get(b"S", "ERROR"), fields.get(b"M", "unknown")]
        if b"D" in fields:
            parts.append(fields[b"D"])
        return ": ".join(parts)

    # -- protocol ---------------------------------------------------------
    def _startup(self, user: str, database: str) -> None:
        # pin client_encoding: this client encodes/decodes UTF-8 on both
        # legs unconditionally, so against a LATIN1/SQL_ASCII database the
        # server-default encoding would silently double-encode COPY
        # payloads and desync result decoding on the first non-UTF8 byte
        params = (
            f"user\x00{user}\x00database\x00{database}\x00"
            "client_encoding\x00UTF8\x00\x00"
        ).encode()
        payload = struct.pack(">I", 196608) + params  # protocol 3.0
        self._sock.sendall(struct.pack(">I", 4 + len(payload)) + payload)
        while True:
            typ, body = self._read_message()
            if typ == b"R":
                (code,) = struct.unpack(">I", body[:4])
                if code != 0:
                    raise NotImplementedError(
                        f"PostgreSQL auth method {code} is outside the "
                        "supported subset (trust only) — use a real driver "
                        "for password/SCRAM servers"
                    )
            elif typ in (b"S", b"K", b"N"):
                continue
            elif typ == b"Z":
                return
            elif typ == b"E":
                raise PgError(self._error_fields(body))
            else:
                raise PgError(f"unexpected startup message {typ!r}")

    def query(self, sql: str) -> tuple[list[list[str | None]], list[str]]:
        """Simple-query cycle: returns (rows, command tags). Rows are text
        (the simple protocol's wire format); enough for DDL, merges, and
        small control reads — bulk data belongs to COPY."""
        self._send(b"Q", sql.encode() + b"\x00")
        rows: list[list[str | None]] = []
        tags: list[str] = []
        err: str | None = None
        while True:
            typ, body = self._read_message()
            if typ == b"D":
                (n,) = struct.unpack(">H", body[:2])
                vals: list[str | None] = []
                off = 2
                for _ in range(n):
                    (ln,) = struct.unpack(">i", body[off : off + 4])
                    off += 4
                    if ln == -1:
                        vals.append(None)
                    else:
                        vals.append(body[off : off + ln].decode())
                        off += ln
                rows.append(vals)
            elif typ == b"C":
                tags.append(body.rstrip(b"\x00").decode())
            elif typ == b"E":
                err = self._error_fields(body)
            elif typ in (b"G", b"H"):
                # COPY through query() would deadlock waiting for CopyData
                # (G) or silently return zero rows (H) — fail fast and
                # loudly toward the right entry point
                raise PgError(
                    "COPY statements must go through copy_in() or "
                    "copy_out(), not query()"
                )
            elif typ == b"Z":
                if err is not None:
                    raise PgError(err)
                return rows, tags
            # 'T' row description, 'N' notices, 'I' empty query: skipped

    def copy_in(self, copy_sql: str, data: Iterable[bytes]) -> str:
        """``COPY ... FROM STDIN`` with streamed chunks of bytes-like data,
        each sent as one CopyData message; returns the COPY command tag
        (e.g. ``COPY 42``). The chunks are the payload of whatever format
        ``copy_sql`` names — text, or ``(FORMAT binary)`` with its header
        and trailer included — split anywhere. The whole cycle is one
        implicit transaction unless wrapped by the caller."""
        self._send(b"Q", copy_sql.encode() + b"\x00")
        err: str | None = None
        while True:
            typ, body = self._read_message()
            if typ == b"G":
                break
            if typ == b"E":
                err = self._error_fields(body)
            elif typ == b"Z":
                raise PgError(err or "COPY did not reach CopyInResponse")
        data_exc: Exception | None = None
        try:
            for chunk in data:
                if chunk:
                    self._send(b"d", chunk)
            self._send(b"c", b"")  # CopyDone
        except Exception as exc:  # mid-stream failure (encoder, iterable):
            # ANY exception — including PgError from a nested client inside
            # the iterable — must CopyFail and drain, or the server keeps
            # expecting CopyData and every later query() on this connection
            # is misread as COPY payload. Truncate the reason BEFORE
            # encoding: slicing encoded bytes could split a multi-byte
            # codepoint and ship invalid UTF-8 in the protocol message.
            data_exc = exc
            try:
                self._send(b"f", str(exc)[:200].encode() + b"\x00")  # CopyFail
            except Exception:
                # the socket itself is dead (broken pipe): CopyFail can't be
                # delivered and the drain below would hang/raise on the same
                # dead socket, masking the original failure — mark the
                # connection unusable and surface the real error
                try:
                    self._sock.close()
                except Exception:
                    pass
                raise data_exc
            # fall through to drain the error response
        tag = ""
        while True:
            typ, body = self._read_message()
            if typ == b"C":
                tag = body.rstrip(b"\x00").decode()
            elif typ == b"E":
                err = self._error_fields(body)
            elif typ == b"Z":
                if err is not None:
                    raise PgError(err) from data_exc
                return tag

    def copy_out(self, copy_sql: str) -> bytes:
        """``COPY ... TO STDOUT``; returns the concatenated text-format
        payload. Errors drain to ReadyForQuery before raising, as in
        ``copy_in``, so the connection stays usable."""
        self._send(b"Q", copy_sql.encode() + b"\x00")
        out = bytearray()
        err: str | None = None
        while True:
            typ, body = self._read_message()
            if typ == b"d":
                out += body
            elif typ == b"G":
                # a COPY FROM STDIN sent here: refuse the data phase so the
                # server answers with an error instead of waiting forever
                self._send(b"f", b"copy_out() cannot feed COPY FROM STDIN\x00")
            elif typ == b"E":
                err = self._error_fields(body)
            elif typ == b"Z":
                if err is not None:
                    raise PgError(err)
                return bytes(out)
            # 'H' CopyOutResponse, 'c' CopyDone, 'C' tag, 'N' notices: skipped

    def close(self) -> None:
        try:
            self._send(b"X", b"")  # Terminate
        except Exception:  # noqa: BLE001 — best-effort goodbye
            pass
        self._sock.close()

    def __enter__(self) -> "PgWireClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()
