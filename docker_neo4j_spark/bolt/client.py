"""Minimal Bolt client — the in-repo driver for the 7687 surface.

Speaks the published wire format (magic handshake, version negotiation,
chunked PackStream messages) against any Bolt v4/v5 server; used by the
test suite and the ``bolt_roundtrip`` catalog row to drive the engine's
server exactly the way the reference suite's ``GraphDatabase.driver``
does (DatabaseIO.java:121-132). Synchronous, one result stream at a
time — a smoke/serving client, not a pooling production driver.
"""

from __future__ import annotations

import socket
import struct

from .packstream import Structure, pack, unpack
from .server import (
    FAILURE,
    GOODBYE,
    HELLO,
    LOGON,
    MAGIC,
    PULL,
    RECORD,
    RESET,
    RUN,
    SUCCESS,
)


class BoltClient:
    """Connect, negotiate, HELLO, run queries; ``with``-friendly."""

    def __init__(
        self,
        port: int,
        host: str = "127.0.0.1",
        propose: tuple = ((5, 8, 7), (4, 4, 0)),
        timeout: float = 30.0,
    ):
        self.sock = socket.create_connection((host, port), timeout=timeout)
        hello = MAGIC
        versions = list(propose) + [(0, 0, 0)] * (4 - len(propose))
        for major, minor, nrange in versions[:4]:
            hello += bytes((0, nrange, minor, major))
        self.sock.sendall(hello)
        raw = self._recv_exact(4)
        self.version = (raw[3], raw[2])
        if self.version == (0, 0):
            raise ConnectionError("bolt version negotiation failed")

    # -- wire --------------------------------------------------------------
    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            got = self.sock.recv(n - len(buf))
            if not got:
                raise ConnectionError("server closed bolt connection")
            buf += got
        return buf

    def send(self, tag: int, *fields) -> None:
        body = pack(Structure(tag, *fields))
        msg = b""
        for i in range(0, len(body), 0xFFFF):
            chunk = body[i : i + 0xFFFF]
            msg += struct.pack(">H", len(chunk)) + chunk
        self.sock.sendall(msg + b"\x00\x00")

    def recv(self) -> Structure:
        """Read one message. Any error (a timeout included) closes the
        socket: the rest of the reply is still unread on it, and a later
        call would take it as its own, so later calls raise instead."""
        try:
            body = b""
            while True:
                size = struct.unpack(">H", self._recv_exact(2))[0]
                if size == 0:
                    if body:
                        break
                    continue  # NOOP keepalive
                body += self._recv_exact(size)
            msg, _ = unpack(body)
            return msg
        except BaseException:
            self.sock.close()
            raise

    # -- driver ops --------------------------------------------------------
    def hello(self, with_scheme: bool = True, user: str = "neo4j", password: str = "") -> dict:
        extra = {"user_agent": "docker-neo4j-spark-bolt/1"}
        if with_scheme:
            extra.update({"scheme": "basic", "principal": user, "credentials": password})
        self.send(HELLO, extra)
        reply = self.recv()
        if reply.tag != SUCCESS:
            raise ConnectionError(f"HELLO rejected: {reply.fields}")
        return reply.fields[0]

    def logon(self, scheme: str = "none", **auth) -> None:
        self.send(LOGON, {"scheme": scheme, **auth})
        if self.recv().tag != SUCCESS:
            raise ConnectionError("LOGON rejected")

    def run(self, cypher: str, params: dict | None = None) -> tuple[list[str], list[list]]:
        """RUN + PULL(-1) → (column names, rows); RuntimeError on FAILURE
        (after RESETting so the connection stays usable)."""
        self.send(RUN, cypher, params or {}, {})
        reply = self.recv()
        if reply.tag == FAILURE:
            self.send(RESET)
            self.recv()
            raise RuntimeError(reply.fields[0].get("message", "query failed"))
        fields = reply.fields[0]["fields"]
        rows: list[list] = []
        while True:
            self.send(PULL, {"n": -1})
            while True:
                msg = self.recv()
                if msg.tag == RECORD:
                    rows.append(msg.fields[0])
                    continue
                if msg.tag != SUCCESS:
                    self.sock.close()  # the reply's remainder is unread
                    raise RuntimeError(f"unexpected message {msg!r}")
                break
            if not msg.fields[0].get("has_more"):
                return fields, rows

    def close(self) -> None:
        try:
            self.send(GOODBYE)
        except OSError:
            pass
        self.sock.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.close()
