"""Bolt wire protocol: a from-scratch client (socket + PackStream) drives
the server end-to-end, replaying the reference suite's Bolt-channel
corpus (DatabaseIO.java:121-132 runs all its Cypher through
``GraphDatabase.driver("bolt://…")``; WaitStrategies.java:39 waits on
7687). The official neo4j driver isn't installable in this container, so
the client here speaks the same published wire format: magic handshake,
version negotiation, chunked PackStream messages.
"""

from __future__ import annotations

import socket
import struct

import pytest

from docker_neo4j_spark.bolt import BoltServer
from docker_neo4j_spark.bolt.packstream import Structure, pack, unpack
from docker_neo4j_spark.cypher.session import Session

HELLO, RESET, RUN, PULL, GOODBYE = 0x01, 0x0F, 0x10, 0x3F, 0x02
BEGIN, COMMIT, LOGON = 0x11, 0x12, 0x6A
SUCCESS, RECORD, IGNORED, FAILURE = 0x70, 0x71, 0x7E, 0x7F


class MiniBoltClient:
    """Just enough driver: connect, negotiate, run, pull."""

    def __init__(self, port: int, propose=((5, 8, 7), (4, 4, 0))):
        self.sock = socket.create_connection(("127.0.0.1", port), timeout=10)
        hello = b"\x60\x60\xb0\x17"
        versions = list(propose) + [(0, 0, 0)] * (4 - len(propose))
        for major, minor, nrange in versions:
            hello += bytes((0, nrange, minor, major))
        self.sock.sendall(hello)
        raw = self._recv_exact(4)
        self.version = (raw[3], raw[2])

    # -- wire helpers ------------------------------------------------------
    def _recv_exact(self, n):
        buf = b""
        while len(buf) < n:
            got = self.sock.recv(n - len(buf))
            assert got, "server closed connection"
            buf += got
        return buf

    def send(self, tag, *fields):
        body = pack(Structure(tag, *fields))
        msg = b""
        for i in range(0, len(body), 0xFFFF):
            chunk = body[i : i + 0xFFFF]
            msg += struct.pack(">H", len(chunk)) + chunk
        self.sock.sendall(msg + b"\x00\x00")

    def recv(self):
        body = b""
        while True:
            size = struct.unpack(">H", self._recv_exact(2))[0]
            if size == 0:
                if body:
                    break
                continue
            body += self._recv_exact(size)
        msg, _ = unpack(body)
        return msg

    # -- driver-level ops --------------------------------------------------
    def hello(self, with_scheme=True):
        extra = {"user_agent": "mini-bolt/0"}
        if with_scheme:
            extra.update({"scheme": "basic", "principal": "neo4j", "credentials": "x"})
        self.send(HELLO, extra)
        reply = self.recv()
        assert reply.tag == SUCCESS, reply
        return reply.fields[0]

    def run(self, cypher, params=None):
        """RUN + PULL(-1) → (fields, rows) or raise on FAILURE."""
        self.send(RUN, cypher, params or {}, {})
        reply = self.recv()
        if reply.tag == FAILURE:
            self.send(RESET)
            assert self.recv().tag == SUCCESS
            raise RuntimeError(reply.fields[0]["message"])
        assert reply.tag == SUCCESS
        fields = reply.fields[0]["fields"]
        self.send(PULL, {"n": -1})
        rows = []
        while True:
            msg = self.recv()
            if msg.tag == RECORD:
                rows.append(msg.fields[0])
            elif msg.tag == SUCCESS:
                assert not msg.fields[0].get("has_more")
                return fields, rows
            else:
                raise AssertionError(msg)

    def close(self):
        try:
            self.send(GOODBYE)
        finally:
            self.sock.close()


@pytest.fixture
def bolt(spark):
    server = BoltServer(Session(spark)).start()
    client = MiniBoltClient(server.port)
    yield client
    client.close()
    server.stop()


def test_handshake_picks_highest_supported(bolt):
    assert bolt.version == (5, 8)


def test_handshake_range_and_v4_fallback(spark):
    server = BoltServer(Session(spark)).start()
    try:
        # client only speaks 4.4 (range covers 4.1-4.4)
        c = MiniBoltClient(server.port, propose=((4, 4, 3),))
        assert c.version == (4, 4)
        c.hello()
        fields, rows = c.run("RETURN 1 AS one")
        assert fields == ["one"] and rows == [[1]]
        c.close()
    finally:
        server.stop()


def test_reference_dog_corpus_over_bolt(bolt):
    """DatabaseIO.putInitialDataIntoContainer / verify… replayed on 7687."""
    bolt.hello()
    fields, rows = bolt.run(
        "CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'}) "
        "RETURN arne.name"
    )
    assert fields == ["arne.name"] and rows == [["Arne"]]
    _, rows = bolt.run("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name")
    assert [r[0] for r in rows] == ["Arne"]
    _, rows = bolt.run(
        "MATCH (a:dog {name:'Arne'}) "
        "CREATE (armstrong:dog {name:'Armstrong'})-[:SNIFFS]->(a) "
        "return a.name, armstrong.name"
    )
    assert rows == [["Arne", "Armstrong"]]
    _, rows = bolt.run("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name")
    assert ",".join(sorted(r[0] for r in rows)) == "Armstrong,Arne"


def test_parameters_and_batching(bolt):
    bolt.hello()
    bolt.run(
        "UNWIND $rows AS r MERGE (c:City {name: r.name})",
        {"rows": [{"name": f"c{i}"} for i in range(30)]},
    )
    fields, rows = bolt.run("MATCH (c:City) RETURN count(*) AS n")
    assert fields == ["n"] and rows == [[30]]


def test_pull_paging_has_more(bolt):
    bolt.hello()
    bolt.send(RUN, "UNWIND range(1, 10) AS x RETURN x", {}, {})
    assert bolt.recv().tag == SUCCESS
    got = []
    while True:
        bolt.send(PULL, {"n": 3})
        done = False
        while True:
            msg = bolt.recv()
            if msg.tag == RECORD:
                got.append(msg.fields[0][0])
            else:
                assert msg.tag == SUCCESS
                done = not msg.fields[0].get("has_more")
                break
        if done:
            break
    assert got == list(range(1, 11))


def _pull_all(client, n=-1):
    """PULL pages of ``n`` until the stream ends; (rows, final SUCCESS metadata)."""
    rows = []
    while True:
        client.send(PULL, {"n": n})
        msg = client.recv()
        while msg.tag == RECORD:
            rows.append(msg.fields[0])
            msg = client.recv()
        assert msg.tag == SUCCESS, msg
        if not msg.fields[0].get("has_more"):
            return rows, msg.fields[0]


def test_success_metadata_reports_t_first(bolt):
    """t_first is the ms from RUN receipt to the first row being ready, so a
    statement that sleeps 150 ms before yielding reports at least 150."""
    bolt.hello()
    bolt.send(RUN, "CALL apoc.util.sleep(150)", {}, {})
    reply = bolt.recv()
    assert reply.tag == SUCCESS, reply
    assert reply.fields[0]["t_first"] >= 150
    _, meta = _pull_all(bolt)
    assert meta["t_last"] >= 0


def test_success_metadata_reports_t_last(bolt):
    """t_last is the ms from the stream's first PULL to its end: it spans
    the client's pause between two pages."""
    import time

    bolt.hello()
    bolt.send(RUN, "UNWIND range(1, 4) AS x RETURN x", {}, {})
    assert bolt.recv().tag == SUCCESS
    bolt.send(PULL, {"n": 2})
    msg = bolt.recv()
    while msg.tag == RECORD:
        msg = bolt.recv()
    assert msg.tag == SUCCESS and msg.fields[0].get("has_more")
    time.sleep(0.2)
    rows, meta = _pull_all(bolt)
    assert rows == [[3], [4]]
    assert meta["t_last"] >= 200


def test_large_result_streams_bounded(bolt):
    """r9: RUN materializes NO rows driver-side (toLocalIterator with a
    one-row lookahead); a 50k-row result streams through chunked PULLs
    with correct has_more framing, and DISCARD mid-stream drops the rest
    without draining it."""
    bolt.hello()
    bolt.send(RUN, "UNWIND range(1, 50000) AS x RETURN x", {}, {})
    assert bolt.recv().tag == SUCCESS
    # first page only — the server must not have collected all 50k
    bolt.send(PULL, {"n": 5})
    got = []
    while True:
        msg = bolt.recv()
        if msg.tag == RECORD:
            got.append(msg.fields[0][0])
        else:
            assert msg.tag == SUCCESS and msg.fields[0].get("has_more")
            break
    assert got == [1, 2, 3, 4, 5]
    DISCARD = 0x2F
    bolt.send(DISCARD, {"n": -1})
    assert bolt.recv().tag == SUCCESS
    fields, rows = bolt.run("RETURN 7 AS seven")
    assert rows == [[7]]


def test_failure_then_ignored_until_reset(bolt):
    bolt.hello()
    bolt.send(RUN, "THIS IS NOT CYPHER !!", {}, {})
    assert bolt.recv().tag == FAILURE
    bolt.send(PULL, {"n": -1})
    assert bolt.recv().tag == IGNORED
    bolt.send(RESET)
    assert bolt.recv().tag == SUCCESS
    fields, rows = bolt.run("RETURN 2 AS two")
    assert rows == [[2]]


def test_logon_flow_v51(spark):
    """v5.1+ HELLO without scheme → server expects LOGON before RUN."""
    server = BoltServer(Session(spark)).start()
    try:
        c = MiniBoltClient(server.port)
        info = c.hello(with_scheme=False)
        assert info["server"].startswith("Neo4j/")
        c.send(LOGON, {"scheme": "none"})
        assert c.recv().tag == SUCCESS
        _, rows = c.run("RETURN 'after logon' AS s")
        assert rows == [["after logon"]]
        c.close()
    finally:
        server.stop()


def test_tx_envelope_and_types(bolt):
    bolt.hello()
    bolt.send(BEGIN, {})
    assert bolt.recv().tag == SUCCESS
    fields, rows = bolt.run(
        "RETURN 1 AS i, 1.5 AS f, 'str' AS s, true AS b, null AS nl, "
        "[1, 2] AS lst, {a: 1} AS mp"
    )
    assert rows == [[1, 1.5, "str", True, None, [1, 2], {"a": 1}]]
    bolt.send(COMMIT, {})
    assert bolt.recv().tag == SUCCESS


def test_package_client_against_server(spark):
    """The in-repo BoltClient (used by the bolt_roundtrip catalog row)
    interoperates with the server: negotiation, LOGON flow, params,
    paging — all through the public package surface."""
    from docker_neo4j_spark.bolt import BoltClient

    server = BoltServer(Session(spark)).start()
    try:
        with BoltClient(server.port) as c:
            assert c.version == (5, 8)
            c.hello(with_scheme=False)
            c.logon()
            fields, rows = c.run(
                "UNWIND $xs AS x RETURN x * 2 AS y", {"xs": [1, 2, 3]}
            )
            assert fields == ["y"] and [r[0] for r in rows] == [2, 4, 6]
            with pytest.raises(RuntimeError):
                c.run("NOT CYPHER")
            _, rows = c.run("RETURN 1 AS ok")  # connection survives RESET
            assert rows == [[1]]
    finally:
        server.stop()


def test_packstream_roundtrip_edge_values():
    vals = [
        None, True, False, 0, -1, -16, -17, 127, 128, -129, 2**15, -(2**15) - 1,
        2**31, -(2**31) - 1, 2**62, 1.5, -0.0, "", "héllo", "x" * 300,
        [], list(range(20)), {}, {"k": [1, {"n": None}]}, b"\x00\x01bytes",
        "🐶" * 100,
    ]
    for v in vals:
        got, off = unpack(pack(v))
        assert got == v and off == len(pack(v)), v


def test_entity_properties_typed_on_wire(bolt):
    """r11: entity properties are VARIANT-typed end to end — a client
    reading node.properties.age gets long 4 (Neo4j wire contract), not
    the r10 stringified '4'."""
    bolt.hello()
    bolt.run("CREATE (:tdog {name:'Arne', age: 4, w: 2.5})")
    _, rows = bolt.run("MATCH (n:tdog) RETURN n")
    props = rows[0][0]["properties"]
    assert props["age"] == 4 and isinstance(props["age"], int)
    assert props["w"] == 2.5 and isinstance(props["w"], float)
    assert props["name"] == "Arne"


def test_client_timeout_closes_connection():
    """A client timeout mid-reply leaves the reply unread on the socket;
    the next ``run`` must raise rather than return that earlier
    statement's reply as its own."""
    import time

    from docker_neo4j_spark.bolt import BoltClient

    class _Result:
        columns = ["x"]

        def __init__(self, value):
            self.value = value

        def toLocalIterator(self):
            return iter([(self.value,)])

    class _SlowSession:
        def run(self, text, params=None):
            if text == "slow":
                time.sleep(1.0)
            return _Result(text)

    server = BoltServer(_SlowSession()).start()
    try:
        c = BoltClient(server.port, timeout=0.5)
        c.hello()
        with pytest.raises(TimeoutError):
            c.run("slow")
        with pytest.raises(OSError):
            c.run("fast")
        c.close()
    finally:
        server.stop()
