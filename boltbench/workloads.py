"""The four workloads: the statements they send and how each reply is checked.

Every statement carries a ``check(rows, oracle)`` that returns an error
message or ``None``. Reads are checked against DuckDB over the same parquet
files the engine loads; writes against a model of what was written; GDS
calls against graph aggregates that DuckDB can count.

A workload yields *rounds*: one statement of each of its types, in a fixed
order. Time-bounded workloads keep issuing whole rounds until the run's
time is up, so every run holds the same mix of types.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass, field
from typing import Callable

import duckdb
import numpy as np
import pyarrow.parquet as pq

ORACLE_TABLES = ("customer", "supplier", "part", "orders", "lineitem", "nation", "region")


def fixture_dir(scale: float) -> str:
    """The repository's TPC-H fixture at ``scale``: the directory beside the
    one ``sources.tpch`` loads by default, named ``sf<scale>``."""
    from docker_neo4j_spark.sources.tpch import DEFAULT_SF_DIR
    return os.path.join(os.path.dirname(os.path.abspath(DEFAULT_SF_DIR)), f"sf{scale:g}")


def table_rows(data_dir: str) -> dict[str, int]:
    """Row counts from the parquet footers. The fixture's keys run densely
    from 0, so a count is also the key range."""
    return {t: pq.read_metadata(os.path.join(data_dir, f"{t}.parquet")).num_rows
            for t in ORACLE_TABLES}


@dataclass
class Stmt:
    type: str
    text: str
    params: dict = field(default_factory=dict)
    check: Callable[[list, "Oracle"], str | None] = lambda rows, oracle: None
    write: bool = False


class Oracle:
    """DuckDB over the benchmark's parquet tables; answers are memoised."""

    def __init__(self, data_dir: str, temp_dir: str):
        self.con = duckdb.connect(config={"temp_directory": temp_dir, "threads": 1})
        for t in ORACLE_TABLES:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
            )
        self._memo: dict = {}

    def rows(self, sql: str, *params) -> list[tuple]:
        key = (sql, params)
        if key not in self._memo:
            self._memo[key] = self.con.execute(sql, list(params)).fetchall()
        return self._memo[key]


def same(got, want, rel: float = 1e-9) -> bool:
    """Equality with a relative tolerance on floats (sums may add in
    another order on each side)."""
    if isinstance(got, (list, tuple)) and isinstance(want, (list, tuple)):
        return len(got) == len(want) and all(same(g, w, rel) for g, w in zip(got, want))
    if isinstance(got, float) or isinstance(want, float):
        if got is None or want is None:
            return got is want
        return math.isclose(got, want, rel_tol=rel, abs_tol=1e-6)
    return got == want


def _expect(sql: str, *params):
    def check(rows, oracle):
        want = [list(r) for r in oracle.rows(sql, *params)]
        return None if same(rows, want) else f"got {rows[:3]} want {want[:3]}"
    return check


def _expect_value(want, rel: float = 1e-9):
    def check(rows, oracle):
        return None if same(rows, want, rel) else f"got {rows[:3]} want {want[:3]}"
    return check


class ZipfKeys:
    """Keys 0..n-1 drawn with Zipf(s) popularity; which keys are hot is a
    permutation chosen by the seed."""

    def __init__(self, rng: np.random.Generator, n: int, s: float = 1.1):
        w = 1.0 / np.arange(1, n + 1) ** s
        self.p = w / w.sum()
        self.perm = rng.permutation(n)
        self.rng = rng

    def __call__(self) -> int:
        return int(self.perm[self.rng.choice(len(self.p), p=self.p)])


# -- read shapes shared by read-interactive and write-mix ---------------------

def point_lookup(k: int, balance: float | None = None) -> Stmt:
    text = ("MATCH (c:Customer {c_custkey: $k}) "
            "RETURN c.c_name AS name, c.c_acctbal AS bal, c.c_mktsegment AS seg")
    sql = "SELECT c_name, c_acctbal, c_mktsegment FROM customer WHERE c_custkey = ?"
    check = _expect(sql, k)
    if balance is not None:
        def check(rows, oracle, k=k, balance=balance):
            name, _, seg = oracle.rows(sql, k)[0]
            want = [[name, balance, seg]]
            return None if same(rows, want) else f"got {rows} want {want}"
    return Stmt("point_lookup", text, {"k": k}, check)


def one_hop(k: int) -> Stmt:
    return Stmt(
        "one_hop",
        "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(o:Order) "
        "RETURN o.o_orderkey AS ok, o.o_totalprice AS tp ORDER BY ok",
        {"k": k},
        _expect("SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = ? ORDER BY 1", k),
    )


def two_hop_brands(k: int) -> Stmt:
    return Stmt(
        "two_hop_brands",
        "MATCH (c:Customer {c_custkey: $k})-[:PLACED]->(:Order)-[:CONTAINS]->(p:Part) "
        "RETURN p.p_brand AS brand, count(*) AS n ORDER BY n DESC, brand LIMIT 5",
        {"k": k},
        _expect(
            "SELECT p_brand, count(*) AS n FROM orders "
            "JOIN lineitem ON l_orderkey = o_orderkey JOIN part ON p_partkey = l_partkey "
            "WHERE o_custkey = ? GROUP BY p_brand ORDER BY n DESC, p_brand LIMIT 5",
            k,
        ),
    )


def nation_suppliers(k: int) -> Stmt:
    return Stmt(
        "nation_suppliers",
        "MATCH (s:Supplier)-[:IN_NATION]->(n:Nation {n_nationkey: $k}) "
        "RETURN count(s) AS suppliers",
        {"k": k},
        _expect("SELECT count(*) FROM supplier WHERE s_nationkey = ?", k),
    )


class Workload:
    name = ""
    scale = 0.1
    connections = 1
    timeout_s = 60.0       # socket timeout, above the longest statement
    fixed_rounds = 0       # > 0: send exactly this many rounds, untimed by --seconds

    def __init__(self, seed: int, scale: float | None = None):
        self.seed = seed
        if scale is not None:
            self.scale = scale
        self.data = fixture_dir(self.scale)
        self.n = table_rows(self.data)

    def setup(self) -> list[Stmt]:
        """Statements that build server-side state before the warm-up."""
        return []

    def rounds(self, conn: int):
        """Endless rounds of statements for connection ``conn``."""
        raise NotImplementedError

    def warmup(self, stream) -> list[Stmt]:
        """The untimed round that ends set-up: by default the stream's next."""
        return next(stream)

    def final(self, traced: bool) -> list[Stmt]:
        """Untimed statements after the measured window: checks of the end
        state and, in traced runs, calls that reach layers the window does
        not."""
        return []


class ReadInteractive(Workload):
    name = "read-interactive"
    connections = 2

    def rounds(self, conn: int):
        rng = np.random.default_rng([self.seed, conn])
        cust = ZipfKeys(rng, self.n["customer"])
        nation = ZipfKeys(rng, self.n["nation"])
        while True:
            yield [point_lookup(cust()), one_hop(cust()), two_hop_brands(cust()),
                   nation_suppliers(nation())]


class ResultStream(Workload):
    name = "result-stream"

    def rounds(self, conn: int):
        rng = np.random.default_rng([self.seed, conn])
        n_orders, n_cust = self.n["orders"], self.n["customer"]
        flat, ents, paths = n_orders // 5, n_cust // 3, n_cust // 10
        while True:
            yield [
                self._flat(int(rng.integers(0, n_orders - flat)), flat),
                self._entities(int(rng.integers(0, n_cust - ents)), ents),
                self._paths(int(rng.integers(0, n_cust - paths)), paths),
            ]

    def warmup(self, stream) -> list[Stmt]:
        """The same three shapes over a tenth of the rows."""
        n_orders, n_cust = self.n["orders"], self.n["customer"]
        return [self._flat(0, n_orders // 50), self._entities(0, n_cust // 30),
                self._paths(0, n_cust // 100)]

    @staticmethod
    def _flat(lo: int, width: int) -> Stmt:
        return Stmt(
            "flat_orders",
            "MATCH (o:Order) WHERE o.o_orderkey >= $lo AND o.o_orderkey < $hi "
            "RETURN o.o_orderkey AS k, o.o_totalprice AS p, o.o_orderstatus AS st",
            {"lo": lo, "hi": lo + width},
            _digest_check(
                lambda rows: [len(rows), sum(r[0] for r in rows),
                              sum(r[1] for r in rows), sum(r[2] == "F" for r in rows)],
                "SELECT count(*), sum(o_orderkey), sum(o_totalprice), "
                "count(*) FILTER (WHERE o_orderstatus = 'F') FROM orders "
                "WHERE o_orderkey >= ? AND o_orderkey < ?",
                lo, lo + width,
            ),
        )

    @staticmethod
    def _entities(lo: int, width: int) -> Stmt:
        def digest(rows):
            props = [r[0]["properties"] for r in rows]
            labels_ok = all(r[0]["labels"] == ["Customer"] for r in rows)
            return [len(rows), sum(p["c_custkey"] for p in props),
                    sum(p["c_acctbal"] for p in props), labels_ok]
        return Stmt(
            "customer_entities",
            "MATCH (c:Customer) WHERE c.c_custkey >= $lo AND c.c_custkey < $hi RETURN c",
            {"lo": lo, "hi": lo + width},
            _digest_check(
                digest,
                "SELECT count(*), sum(c_custkey), sum(c_acctbal), true FROM customer "
                "WHERE c_custkey >= ? AND c_custkey < ?",
                lo, lo + width,
            ),
        )

    @staticmethod
    def _paths(lo: int, width: int) -> Stmt:
        return Stmt(
            "customer_order_rows",
            "MATCH (c:Customer)-[:PLACED]->(o:Order) "
            "WHERE c.c_custkey >= $lo AND c.c_custkey < $hi "
            "RETURN c.c_custkey AS ck, o.o_orderkey AS ok, o.o_totalprice AS tp",
            {"lo": lo, "hi": lo + width},
            _digest_check(
                lambda rows: [len(rows), sum(r[0] for r in rows), sum(r[1] for r in rows),
                              sum(r[2] for r in rows)],
                "SELECT count(*), sum(o_custkey), sum(o_orderkey), sum(o_totalprice) "
                "FROM orders WHERE o_custkey >= ? AND o_custkey < ?",
                lo, lo + width,
            ),
        )


def _digest_check(digest, sql: str, *params):
    """Compare a digest of a large reply with one DuckDB row."""
    def check(rows, oracle):
        got, want = digest(rows), list(oracle.rows(sql, *params)[0])
        return None if same(got, want) else f"digest {got} want {want}"
    return check


class WriteMix(Workload):
    """A fixed sequence on a fresh store: MERGE a node (created, then
    matched), MERGE a relationship, SET properties, an UNWIND batch, their
    read-backs and the interactive reads. The model below tracks what the
    store must hold after each statement."""

    name = "write-mix"
    fixed_rounds = 1
    ACCOUNTS = 3
    BATCH = 25

    def __init__(self, seed: int, scale: float | None = None):
        super().__init__(seed, scale)
        self.accounts: dict[int, dict] = {}
        self.balances: dict[int, float] = {}
        self.events: dict[int, float] = {}
        self._next_event = 0

    def warmup(self, stream) -> list[Stmt]:
        """Reads only, so the measured sequence starts on the unmodified
        store; a round with writes would need a second store build."""
        rng = np.random.default_rng([self.seed, 1 << 16])
        c = int(rng.integers(0, self.n["customer"]))
        return [point_lookup(c), one_hop(c), two_hop_brands(c),
                nation_suppliers(int(rng.integers(0, self.n["nation"])))]

    def rounds(self, conn: int):
        rng = np.random.default_rng([self.seed, conn])
        n_cust = self.n["customer"]
        cust = ZipfKeys(rng, n_cust)
        nation = ZipfKeys(rng, self.n["nation"])
        while True:
            k = int(rng.integers(0, self.ACCOUNTS))
            c = int(rng.integers(0, n_cust))
            yield [
                self._merge_account(k, c),
                self._merge_owns(k, c),
                self._set_score(k, round(float(rng.uniform(0, 100)), 2)),
                self._set_balance(int(rng.integers(0, n_cust)), round(float(rng.uniform(0, 9999)), 2)),
                self._unwind_events(rng),
                self._read_account(k),
                self._read_owns(k),
                self._lookup(cust()),
                one_hop(cust()),
                two_hop_brands(cust()),
                nation_suppliers(nation()),
                # the same key again, ON MATCH; last, because every statement
                # after a write pays for the grown store
                self._merge_account(k, c),
            ]

    # Each statement method updates the model as the statement is generated; the
    # sequence runs on one connection in order, so the model at generation
    # time is the store's state when the statement runs.
    def _merge_account(self, k: int, c: int) -> Stmt:
        acct = self.accounts.get(k)
        if acct is None:
            self.accounts[k] = {"hits": 1, "owner": c, "score": None, "owns": set()}
        else:
            acct["hits"] += 1
        return Stmt(
            "merge_node",
            "MERGE (a:Account {acct: $k}) ON CREATE SET a.hits = 1, a.owner = $c "
            "ON MATCH SET a.hits = a.hits + 1",
            {"k": k, "c": c}, _expect_value([]), write=True,
        )

    def _merge_owns(self, k: int, c: int) -> Stmt:
        self.accounts[k]["owns"].add(c)
        return Stmt(
            "merge_rel",
            "MATCH (a:Account {acct: $k}), (c:Customer {c_custkey: $c}) MERGE (a)-[:OWNS]->(c)",
            {"k": k, "c": c}, _expect_value([]), write=True,
        )

    def _set_score(self, k: int, v: float) -> Stmt:
        self.accounts[k]["score"] = v
        return Stmt("set_account", "MATCH (a:Account {acct: $k}) SET a.score = $v",
                    {"k": k, "v": v}, _expect_value([]), write=True)

    def _set_balance(self, c: int, v: float) -> Stmt:
        self.balances[c] = v
        return Stmt("set_customer", "MATCH (c:Customer {c_custkey: $c}) SET c.c_acctbal = $v",
                    {"c": c, "v": v}, _expect_value([]), write=True)

    def _unwind_events(self, rng) -> Stmt:
        rows = []
        for _ in range(self.BATCH):
            eid = self._next_event
            self._next_event += 1
            amount = round(float(rng.uniform(0, 500)), 2)
            self.events[eid] = amount
            rows.append({"eid": eid, "amount": amount})
        return Stmt("unwind_create",
                    "UNWIND $rows AS r CREATE (:Event {eid: r.eid, amount: r.amount})",
                    {"rows": rows}, _expect_value([]), write=True)

    def _read_account(self, k: int) -> Stmt:
        a = self.accounts[k]
        return Stmt("read_account",
                    "MATCH (a:Account {acct: $k}) RETURN a.hits AS hits, a.score AS score, "
                    "a.owner AS owner",
                    {"k": k}, _expect_value([[a["hits"], a["score"], a["owner"]]]))

    def _read_owns(self, k: int) -> Stmt:
        want = [[c] for c in sorted(self.accounts[k]["owns"])]
        return Stmt("read_owns",
                    "MATCH (a:Account {acct: $k})-[:OWNS]->(c:Customer) "
                    "RETURN c.c_custkey AS ck ORDER BY ck",
                    {"k": k}, _expect_value(want))

    def _lookup(self, c: int) -> Stmt:
        return point_lookup(c, self.balances.get(c))

    def final(self, traced: bool) -> list[Stmt]:
        hits = sum(a["hits"] for a in self.accounts.values())
        n_cust, n_acct = self.n["customer"], len(self.accounts)
        owns = [(k, c) for k, a in self.accounts.items() for c in a["owns"]]
        # components of Account-OWNS-Customer: union-find over the model
        parent: dict = {}

        def root(x):
            while parent.get(x, x) != x:
                x = parent[x]
            return x

        for k, c in owns:
            parent[root(("a", k))] = root(("c", c))
        merged = sum(1 for x in {("a", k) for k, _ in owns} | {("c", c) for _, c in owns}
                     if root(x) != x)
        ends = [
            Stmt("end_accounts",
                 "MATCH (a:Account) RETURN count(a) AS n, sum(a.hits) AS hits",
                 check=_expect_value([[len(self.accounts), hits]])),
            Stmt("end_events",
                 "MATCH (e:Event) RETURN count(e) AS n, sum(e.amount) AS amount",
                 check=_expect_value([[len(self.events), sum(self.events.values())]])),
        ]
        if not traced:
            return ends
        # a GDS read over what was written, so the traced run reaches the
        # procedure and kernel layers on this workload too
        return ends + [
            Stmt("project",
                 "CALL gds.graph.project('owners', ['Account', 'Customer'], ['OWNS'])",
                 check=_expect_value([["owners", n_cust + n_acct, len(owns)]])),
            Stmt("gds_wcc",
                 "CALL gds.wcc.stream('owners') YIELD nodeId, componentId "
                 "RETURN count(*) AS n, count(DISTINCT componentId) AS components",
                 check=_expect_value([[n_cust + n_acct, n_cust + n_acct - merged]])),
        ]


class GdsAnalytics(Workload):
    """Three GDS calls per round over projections built in set-up, each
    reduced to one row in Cypher so the result transfer is trivial."""

    name = "gds-analytics"
    scale = 0.01
    timeout_s = 120.0
    fixed_rounds = 1
    SAMPLES = 16
    MAX_DEPTH = 8  # operators.gds.betweenness's default depth cap

    def setup(self) -> list[Stmt]:
        n = self.n
        nodes = n["region"] + n["nation"] + n["customer"] + n["supplier"] + n["part"] + n["orders"]
        rels = n["nation"] + n["customer"] + n["supplier"] + n["orders"] + 2 * n["lineitem"]
        return [
            Stmt("project", "CALL gds.graph.project('full', '*', '*')",
                 check=_expect_value([["full", nodes, rels]])),
            Stmt("project", "CALL gds.graph.project('co', ['Customer', 'Order'], ['PLACED'])",
                 check=_expect_value([["co", n["customer"] + n["orders"], n["orders"]]])),
            Stmt("project", "CALL gds.graph.project('ps', ['Part', 'Supplier'], ['SUPPLIED_BY'])",
                 check=_expect_value([["ps", n["part"] + n["supplier"], n["lineitem"]]])),
        ]

    def warmup(self, stream) -> list[Stmt]:
        """No warm-up round: the measured calls are each kernel's first
        (see README.md for why)."""
        return []

    def rounds(self, conn: int):
        n = self.n
        nodes = n["region"] + n["nation"] + n["customer"] + n["supplier"] + n["part"] + n["orders"]
        while True:
            yield [
                Stmt("gds_pagerank",
                     "CALL gds.pageRank.stream('full', {maxIterations: 10}) "
                     "YIELD nodeId, score RETURN count(*) AS n, sum(score) AS mass",
                     check=_expect_value([[nodes, float(nodes)]], rel=1e-6)),
                Stmt("gds_wcc",
                     "CALL gds.wcc.stream('co') YIELD nodeId, componentId "
                     "RETURN count(*) AS n, count(DISTINCT componentId) AS components",
                     check=_expect_value([[n["customer"] + n["orders"], n["customer"]]])),
                Stmt("gds_betweenness",
                     f"CALL gds.betweenness.stream('ps', {{samplingSize: {self.SAMPLES}}}) "
                     "YIELD nodeId, score RETURN count(*) AS n, sum(score) AS total, "
                     "min(score) AS lo",
                     check=self._betweenness_check),
            ]

    def _betweenness_check(self, rows, oracle) -> str | None:
        """Node count, no negative score, and the total. Summed over every
        node, a source's Brandes dependencies count the interior nodes of
        its shortest paths: sum over targets of (distance - 1). The
        procedure samples the lowest node ids as sources, walks the
        relationships both ways and halves the sums, so the total is half
        that sum over the sampled sources, from a BFS over the distinct
        Part-Supplier pairs."""
        from docker_neo4j_spark.sources.tpch import LABEL_BASE

        n = self.n
        if not rows or rows[0][0] != n["part"] + n["supplier"] or rows[0][2] < 0:
            return f"got {rows}"
        adj: dict[int, list[int]] = {}
        for p, s in oracle.rows("SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"):
            p, s = LABEL_BASE["Part"] + p, LABEL_BASE["Supplier"] + s
            adj.setdefault(p, []).append(s)
            adj.setdefault(s, []).append(p)
        ids = sorted([LABEL_BASE["Part"] + k for k in range(n["part"])]
                     + [LABEL_BASE["Supplier"] + k for k in range(n["supplier"])])
        total = 0
        for src in ids[: self.SAMPLES]:
            dist = {src: 0}
            frontier = [src]
            for d in range(1, self.MAX_DEPTH + 1):
                nxt = [w for v in frontier for w in adj.get(v, ()) if w not in dist]
                for w in nxt:
                    dist.setdefault(w, d)
                frontier = list(dict.fromkeys(nxt))
            total += sum(d - 1 for d in dist.values() if d > 0)
        want = total / 2.0
        return None if same(rows[0][1], want, 1e-6) else f"total {rows[0][1]} want {want}"

    def final(self, traced: bool) -> list[Stmt]:
        """GDS write mode after the window: the store write path, so the
        traced run reaches the storage layer on this workload too."""
        n = self.n
        if not traced:
            return []
        return [Stmt("gds_wcc_write",
                     "CALL gds.wcc.write('co', {writeProperty: 'componentId'})",
                     check=_expect_value([[n["customer"] + n["orders"], n["customer"]]]))]


WORKLOADS = {w.name: w for w in (ReadInteractive, WriteMix, ResultStream, GdsAnalytics)}
