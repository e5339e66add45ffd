"""Thin HTTP serving wrapper over the Cypher façade (SURVEY.md §2.B.1).

The reference image publishes the database on ports 7474 (HTTP) and 7687
(Bolt) — docker-image-src/calver/coredb/Dockerfile-trixie:54 ``EXPOSE
7474 7687`` — and its tests drive queries over that network surface.
This module is the engine's port surface: the neo4j *HTTP transaction
API* shape (``POST /db/{name}/tx/commit`` with ``{"statements": [...]}``,
response ``{"results": [{"columns", "data": [{"row": ...}]}], "errors"}``)
served over Python's stdlib ``ThreadingHTTPServer``, executing each
statement through :class:`docker_neo4j_spark.cypher.session.Session`.

This is a serving façade for interactive/smoke traffic — one collect per
statement, like a Bolt result stream. Analytical work goes through the
DataFrame API; a 100 TB batch job would never round-trip rows over HTTP.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from .bolt.server import _bolt_value
from .cypher.session import Session


MAX_RESULT_ROWS = 10_000


def run_statements(
    session: Session, statements: list[dict], max_rows: int = MAX_RESULT_ROWS
) -> dict:
    """Execute the HTTP-API statement list; first error aborts the rest
    (the transactional endpoint's semantics: errors roll the tx back).

    Result serving is CAPPED at ``max_rows`` per statement — the driver
    fetches ``limit(max_rows + 1)`` so a ``MATCH (n) RETURN n`` over a big
    graph can never materialize the full result driver-side; a truncated
    result carries ``"hasMore": true`` (analytical result sets belong in
    the DataFrame API / a parquet sink, not an HTTP response body)."""
    results, errors = [], []
    for stmt in statements:
        text = stmt.get("statement", "")
        try:
            df = session.run(text)
            rows = df.limit(max_rows + 1).collect() if max_rows else df.collect()
            has_more = bool(max_rows) and len(rows) > max_rows
            result = {
                "columns": list(df.columns),
                "data": [
                    {"row": [_bolt_value(v) for v in r]} for r in rows[:max_rows or None]
                ],
            }
            if has_more:
                result["hasMore"] = True
            results.append(result)
        except Exception as ex:  # surface as a Neo.ClientError, keep serving
            errors.append(
                {"code": "Neo.ClientError.Statement.SyntaxError", "message": str(ex)}
            )
            break
        if errors:
            break
    return {"results": results, "errors": errors}


class _Handler(BaseHTTPRequestHandler):
    server_version = "docker-neo4j-spark"

    def _send(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):  # noqa: N802 (BaseHTTPRequestHandler API)
        from . import __version__

        # readiness endpoint the reference's wait strategy polls
        # (WaitStrategies.java:24-28: GET /db/<db>/cluster/available)
        m = re.match(r"^/db/([^/]+)/cluster/available/?$", self.path)
        if m:
            dbms = getattr(self.server.session, "dbms", None)
            db = m.group(1)
            stopped = False
            if dbms is not None:
                try:
                    dbms.check_queryable(db)
                except Exception:
                    stopped = True
            if stopped:
                self._send(404, {"message": f"database {db} is not available"})
            else:
                self._send(200, {"available": True, "database": db})
            return
        # discovery document (what the reference serves on 7474's root)
        self._send(200, {"neo4j_version": __version__, "neo4j_edition": "spark"})

    def do_POST(self):  # noqa: N802
        if not self.path.rstrip("/").endswith("/tx/commit"):
            self._send(404, {"results": [], "errors": [{"code": "Neo.ClientError.Request.Invalid", "message": f"no such endpoint {self.path}"}]})
            return
        length = int(self.headers.get("Content-Length", 0))
        try:
            payload = json.loads(self.rfile.read(length) or b"{}")
        except json.JSONDecodeError as ex:
            self._send(400, {"results": [], "errors": [{"code": "Neo.ClientError.Request.InvalidFormat", "message": str(ex)}]})
            return
        out = run_statements(self.server.session, payload.get("statements", []))
        self._send(200, out)

    def log_message(self, *args):  # quiet test runs
        pass


class HttpServer:
    """``serve(session, port)`` lifecycle object; ``.port`` after start.

    Threaded so a test (or a driver process) can query while the main
    thread keeps working; one Session is shared — the façade's store swaps
    are atomic snapshot replacements, so concurrent reads are consistent.

    TLS (the reference's 7473 HTTPS port): pass ``cert_path``/``key_path``
    (PEM) and the listening socket is ssl-wrapped server-side — the
    engine's twin of the entrypoint's ``/ssl`` mount contract
    (docker-image-src docker-entrypoint.sh:479-537, policy directories
    ``/ssl/https`` with ``private.key``+``public.crt``;
    Dockerfile-trixie:54 exposes 7473). Plain HTTP stays the default.
    """

    def __init__(
        self,
        session: Session,
        host: str = "127.0.0.1",
        port: int = 0,
        cert_path: str | None = None,
        key_path: str | None = None,
    ):
        self._httpd = ThreadingHTTPServer((host, port), _Handler)
        self._httpd.session = session
        self.scheme = "http"
        if cert_path:
            import ssl

            ctx = ssl.SSLContext(ssl.PROTOCOL_TLS_SERVER)
            ctx.load_cert_chain(certfile=cert_path, keyfile=key_path)
            self._httpd.socket = ctx.wrap_socket(
                self._httpd.socket, server_side=True
            )
            self.scheme = "https"
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> "HttpServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)


def serve(
    session: Session,
    host: str = "127.0.0.1",
    port: int = 7474,
    cert_path: str | None = None,
    key_path: str | None = None,
) -> HttpServer:
    """Start serving the session over HTTP — or HTTPS when a PEM cert is
    configured (the reference's 7473 port contract)."""
    return HttpServer(session, host, port, cert_path, key_path).start()
