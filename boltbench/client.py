"""The load generator's Bolt client: one connection, one statement at a time.

It speaks the same wire format as ``docker_neo4j_spark.bolt.client`` (and
reuses the engine's PackStream codec), but differs where a benchmark needs
it to:

- every socket operation has an explicit timeout (``timeout`` seconds),
  chosen above the longest statement a workload sends;
- after any timeout, FAILURE or protocol surprise the connection is closed
  and the next statement reconnects. A reply left unread on a reused socket
  would otherwise be taken as the answer to the next statement;
- each statement is timed at the wire: RUN sent, PULL sent, final SUCCESS
  received, and the bytes of the PULL reply.
"""

from __future__ import annotations

import socket
import struct
import time
from dataclasses import dataclass, field

from docker_neo4j_spark.bolt.packstream import Structure, pack, unpack

MAGIC = b"\x60\x60\xb0\x17"
HELLO, GOODBYE, RUN, PULL = 0x01, 0x02, 0x10, 0x3F
SUCCESS, RECORD, FAILURE = 0x70, 0x71, 0x7F


class BoltError(RuntimeError):
    """The server answered FAILURE, or the connection broke mid-statement."""


@dataclass
class Reply:
    fields: list[str]
    rows: list[list] = field(default_factory=list)
    t_run: float = 0.0       # RUN sent
    t_pull: float = 0.0      # PULL sent
    t_done: float = 0.0      # final SUCCESS received
    pull_bytes: int = 0      # bytes of the PULL reply, framing included

    @property
    def latency_s(self) -> float:
        return self.t_done - self.t_run

    @property
    def pull_s(self) -> float:
        return self.t_done - self.t_pull


class Connection:
    """A reconnecting Bolt connection. ``run`` raises ``BoltError`` (or
    ``OSError`` on a timeout) and leaves the connection closed."""

    def __init__(self, port: int, timeout: float, host: str = "127.0.0.1"):
        self.addr = (host, port)
        self.timeout = timeout
        self.sock: socket.socket | None = None
        self.rfile = None

    # -- wire --------------------------------------------------------------
    def _read(self, n: int) -> bytes:
        buf = self.rfile.read(n)
        if len(buf) != n:
            raise BoltError("server closed the connection")
        return buf

    def _send(self, tag: int, *fields) -> None:
        body = pack(Structure(tag, *fields))
        out = bytearray()
        for i in range(0, len(body), 0xFFFF):
            chunk = body[i : i + 0xFFFF]
            out += struct.pack(">H", len(chunk)) + chunk
        out += b"\x00\x00"
        self.sock.sendall(out)

    def _recv(self) -> tuple[Structure, int]:
        body = bytearray()
        wire = 0
        while True:
            size = struct.unpack(">H", self._read(2))[0]
            wire += 2 + size
            if size == 0:
                if body:
                    break
                continue
            body += self._read(size)
        msg, _ = unpack(bytes(body))
        if not isinstance(msg, Structure):
            raise BoltError(f"not a Bolt message: {msg!r}")
        return msg, wire

    # -- lifecycle ---------------------------------------------------------
    def connect(self) -> None:
        self.sock = socket.create_connection(self.addr, timeout=self.timeout)
        self.sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        self.rfile = self.sock.makefile("rb", buffering=1 << 16)
        # propose 5.0 (HELLO carries the auth scheme, no LOGON) and 4.4
        self.sock.sendall(MAGIC + bytes((0, 0, 0, 5, 0, 0, 4, 4)) + bytes(8))
        version = self._read(4)
        if version[3] not in (4, 5):
            raise BoltError(f"version negotiation failed: {version!r}")
        self._send(HELLO, {"user_agent": "boltbench/1", "scheme": "none"})
        msg, _ = self._recv()
        if msg.tag != SUCCESS:
            raise BoltError(f"HELLO rejected: {msg.fields!r}")

    def close(self) -> None:
        if self.sock is None:
            return
        try:
            self._send(GOODBYE)
        except OSError:
            pass
        self._abandon()

    def _abandon(self) -> None:
        """Drop a connection whose state is unknown, without a GOODBYE."""
        if self.sock is not None:
            try:
                if self.rfile is not None:
                    self.rfile.close()
                self.sock.close()
            finally:
                self.sock = self.rfile = None

    # -- statements --------------------------------------------------------
    def run(self, text: str, params: dict | None = None) -> Reply:
        try:
            if self.sock is None:
                self.connect()
            return self._run(text, params or {})
        except BaseException:
            self._abandon()
            raise

    def _run(self, text: str, params: dict) -> Reply:
        t_run = time.perf_counter()
        self._send(RUN, text, params, {})
        msg, _ = self._recv()
        if msg.tag != SUCCESS:
            raise BoltError(_message(msg))
        reply = Reply(fields=msg.fields[0]["fields"], t_run=t_run)
        reply.t_pull = time.perf_counter()
        self._send(PULL, {"n": -1})
        rows = reply.rows
        while True:
            msg, wire = self._recv()
            reply.pull_bytes += wire
            if msg.tag == RECORD:
                rows.append(msg.fields[0])
            elif msg.tag == SUCCESS:
                if not msg.fields[0].get("has_more"):
                    break
                self._send(PULL, {"n": -1})
            else:
                raise BoltError(_message(msg))
        reply.t_done = time.perf_counter()
        return reply


def _message(msg: Structure) -> str:
    meta = msg.fields[0] if msg.fields and isinstance(msg.fields[0], dict) else {}
    return f"0x{msg.tag:02X} {meta.get('code', '')}: {meta.get('message', msg.fields)}"
