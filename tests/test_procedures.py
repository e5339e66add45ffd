"""Procedure-registry behavior: CALL…YIELD…WHERE composition, default
arguments, SHOW PROCEDURES, unknown-procedure error parity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docker_neo4j_spark.procedures.registry import call, show_procedures


def test_call_defaults_and_overrides(spark):
    row = call(spark, "example.defaultValues").first()
    assert (row["string"], row["integer"], row["aFloat"], row["aBoolean"]) == (
        "a string", 42, 3.14, True,
    )
    row2 = call(spark, "example.defaultValues", args={"integer": 99}).first()
    assert row2["integer"] == 99 and row2["string"] == "a string"


def test_call_yield_where(spark):
    out = call(
        spark,
        "dbms.listConfig",
        yield_cols=["name", "value"],
        where=F.col("name") == "spark.sql.adaptive.enabled",
    )
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["value"] == "true"
    # YIELD projects columns: only the yielded ones survive
    assert out.columns == ["name", "value"]


def test_show_procedures_lists_registered(spark):
    names = [r["name"] for r in show_procedures(spark).collect()]
    assert "dbms.listConfig" in names
    assert "example.defaultValues" in names
    assert names == sorted(names)


def test_unknown_procedure_raises(spark):
    with pytest.raises(ValueError, match="no procedure with the name"):
        call(spark, "does.not.exist")


def test_scalar_function_registry(spark):
    from docker_neo4j_spark import __version__
    from docker_neo4j_spark.procedures.registry import fn

    # RETURN apoc.version() (TestConfSettings.java:411)
    got = spark.range(1).select(fn("apoc.version").alias("v")).first()["v"]
    assert got == __version__
    with pytest.raises(KeyError, match="Unknown function"):
        fn("apoc.nope")


def test_procedure_allowlist():
    from docker_neo4j_spark.procedures.registry import allowed_procedures

    allowed = allowed_procedures("apoc.*,gds.util.*")
    assert allowed("apoc.version")
    assert allowed("gds.util.asNode")
    assert not allowed("gds.pageRank")
    assert allowed("dbms.listConfig")  # built-ins always callable
    none_allowed = allowed_procedures(None)
    assert none_allowed("db.labels") and not none_allowed("apoc.version")


def test_db_labels_on_graph(spark):
    from docker_neo4j_spark.storage.store import GraphStore

    store = GraphStore(spark)
    store.create_nodes("dog", [{"name": "Arne"}])
    store.create_nodes("cat", [{"name": "Mjau"}])
    labels = [r["label"] for r in call(spark, "db.labels", args={"graph": store.graph}).collect()]
    assert labels == ["cat", "dog"]


def test_vector_query_nodes_procedure(spark):
    """db.index.vector.queryNodes through the string façade: top-k by
    cosine against an embedding node property, positional CALL args
    (including a list literal) mapped onto the procedure signature."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    store = GraphStore(spark)
    store.create_nodes(
        "Doc", [{"name": f"d{i}", "embedding": [float(i), 1.0]} for i in range(5)]
    )
    s = Session(spark, store=store)
    r = s.run(
        "CALL db.index.vector.queryNodes('Doc', 3, [4.0, 1.0]) YIELD node, score RETURN node, score"
    ).collect()
    assert len(r) == 3
    assert r[0]["score"] == pytest.approx(1.0)  # [4,1] itself is stored
    scores = [row["score"] for row in r]
    assert scores == sorted(scores, reverse=True)
    # label filter: no Doc2 label → empty
    r = s.run(
        "CALL db.index.vector.queryNodes('Nope', 3, [4.0, 1.0]) YIELD node RETURN node"
    ).collect()
    assert r == []


def test_genai_encode_scalar_function(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    a = s.run("RETURN genai.vector.encode('hello')").collect()[0][0]
    b = s.run("RETURN genai.vector.encode('hello')").collect()[0][0]
    c = s.run("RETURN genai.vector.encode('world')").collect()[0][0]
    assert len(a) == 32 and a == b and a != c  # deterministic, input-sensitive


def test_periodic_iterate_batched_bulk_update(spark):
    """apoc.periodic.iterate: outer rows drive the inner batch statement
    through the set-based write paths, in batchSize slices."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    for i in range(7):
        s.run(f"CREATE (p:person {{pid: {i}, name: 'p{i}'}})")
    out = s.run(
        "CALL apoc.periodic.iterate("
        "'MATCH (p:person) RETURN p.pid AS pid', "
        "'UNWIND $rows AS r MERGE (t:tag {pid: r.pid})', "
        "{batchSize: 3})"
    ).first()
    assert out["batches"] == 3          # 3 + 3 + 1
    assert out["total"] == 7
    assert out["committedOperations"] == 7
    assert out["failedBatches"] == 0
    assert s.run("MATCH (t:tag) RETURN count(*) AS n").first()["n"] == 7
    # idempotent second run: MERGE creates nothing new
    s.run(
        "CALL apoc.periodic.iterate("
        "'MATCH (p:person) RETURN p.pid AS pid', "
        "'UNWIND $rows AS r MERGE (t:tag {pid: r.pid})', "
        "{batchSize: 3})"
    )
    assert s.run("MATCH (t:tag) RETURN count(*) AS n").first()["n"] == 7


def test_gds_graph_catalog_lifecycle(spark):
    """project → list → algorithms-on-projection → drop; double project
    refused; drop of missing name refused."""
    import pytest as _pytest

    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.procedures.registry import _graphs_for
    from docker_neo4j_spark.storage.store import GraphStore

    _graphs_for(spark).clear()
    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})")
    s.run("CREATE (b:dog {name:'Bosse'})")
    s.run("CREATE (c:cat {name:'Misse'})")
    s.run("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) CREATE (a)-[:KNOWS]->(b)")
    s.run("MATCH (a:dog {name:'Arne'}), (c:cat {name:'Misse'}) CREATE (a)-[:LIKES]->(c)")
    r = s.run(
        "CALL gds.graph.project('dogs', ['dog'], ['KNOWS']) "
        "YIELD graphName, nodeCount, relationshipCount"
    ).collect()[0]
    assert (r["nodeCount"], r["relationshipCount"]) == (2, 1)
    with _pytest.raises(ValueError, match="already exists"):
        s.run("CALL gds.graph.project('dogs', ['dog'], ['KNOWS']) YIELD graphName")
    # label filter drops the cat endpoint even if the type were included
    r2 = s.run(
        "CALL gds.graph.project('dogs2', ['dog'], ['KNOWS', 'LIKES']) "
        "YIELD nodeCount, relationshipCount"
    ).collect()[0]
    assert (r2["nodeCount"], r2["relationshipCount"]) == (2, 1)
    assert {x["graphName"] for x in s.run("CALL gds.graph.list() YIELD graphName").collect()} == {"dogs", "dogs2"}
    s.run("CALL gds.graph.drop('dogs') YIELD graphName")
    s.run("CALL gds.graph.drop('dogs2') YIELD graphName")
    with _pytest.raises(ValueError, match="does not exist"):
        s.run("CALL gds.graph.drop('dogs') YIELD graphName")


def test_apoc_load_json_and_csv(spark, tmp_path):
    """apoc.load.json / apoc.load.csv file-load surfaces: JSONL rows as a
    value map; CSV as apoc's (lineNo, list, map) with DENSE sequential
    line numbers in file order (broadcast-offset assignment, no global
    single-task window)."""
    from docker_neo4j_spark.cypher.session import Session

    jpath = tmp_path / "rows.jsonl"
    jpath.write_text('{"name": "a", "n": 1}\n{"name": "b", "n": 2}\n')
    s = Session(spark)
    rows = s.run(
        f"CALL apoc.load.json('{jpath}') YIELD value RETURN value"
    ).collect()
    got = sorted((r["value"]["name"], r["value"]["n"]) for r in rows)
    assert got == [("a", "1"), ("b", "2")]

    cpath = tmp_path / "rows.csv"
    cpath.write_text("name,qty\n" + "\n".join(f"r{i},{i}" for i in range(50)) + "\n")
    out = s.run(
        f"CALL apoc.load.csv('{cpath}') YIELD lineNo, list, map RETURN lineNo, list, map"
    ).collect()
    assert sorted(r["lineNo"] for r in out) == list(range(50))
    by_no = {r["lineNo"]: r for r in out}
    assert by_no[0]["list"] == ["r0", "0"] and by_no[49]["map"]["qty"] == "49"


def test_fulltext_query_nodes_label_filter_and_empty_query(spark):
    """Fulltext BM25 procedure: label filtering scopes the corpus; an
    empty query string yields an empty typed frame."""
    from pyspark.sql import functions as F

    from docker_neo4j_spark.graph import PropertyGraph
    from docker_neo4j_spark.procedures.registry import call

    nodes = spark.createDataFrame(
        [
            (1, ["Doc"], "spark hash vector spark"),
            (2, ["Doc"], "nothing relevant here"),
            (3, ["Other"], "spark spark spark"),
        ],
        "id long, labels array<string>, text string",
    )
    rels = spark.createDataFrame([], "id long, src long, dst long, type string")
    g = PropertyGraph(nodes=nodes, rels=rels)
    out = call(spark, "db.index.fulltext.queryNodes",
               args={"arg0": "Doc", "arg1": "spark vector", "arg2": 5},
               context={"graph": g})
    rows = out.collect()
    # r12: `node` is the entity struct (the Neo4j contract); nodeId is
    # the scalar id and `score` the float BM25 value
    assert [r["nodeId"] for r in rows] == [1]  # label filter drops node 3
    assert rows[0]["node"]["id"] == 1 and rows[0]["node"]["labels"] == ["Doc"]
    assert rows[0]["n_hits"] == 2 and rows[0]["score_milli"] > 0
    assert abs(rows[0]["score"] - rows[0]["score_milli"] / 1000.0) < 1e-9
    empty = call(spark, "db.index.fulltext.queryNodes",
                 args={"arg0": "Doc", "arg1": "", "arg2": 5},
                 context={"graph": g})
    assert empty.columns == ["node", "nodeId", "score", "n_hits", "score_milli"]
    assert empty.count() == 0


def test_apoc_path_expand_levels_and_filters(spark):
    """Level bounds, outgoing-type filter, end-label terminator, and the
    fail-loud incoming-filter rejection."""
    import pytest
    from pyspark.sql import functions as F

    from docker_neo4j_spark.graph import PropertyGraph
    from docker_neo4j_spark.procedures.registry import call

    nodes = spark.createDataFrame(
        [(1, ["A"]), (2, ["B"]), (3, ["C"]), (4, ["C"]), (5, ["B"])],
        "id long, labels array<string>",
    )
    rels = spark.createDataFrame(
        [(10, 1, 2, "X"), (11, 2, 3, "Y"), (12, 1, 4, "Z"), (13, 3, 5, "X")],
        "id long, src long, dst long, type string",
    )
    g = PropertyGraph(nodes=nodes, rels=rels)
    out = call(
        spark, "apoc.path.expand",
        args={"arg0": "A", "arg1": "X>|Y>", "arg2": "", "arg3": 1, "arg4": 3},
        context={"graph": g},
    )
    got = {(r["node"], r["level"]) for r in out.collect()}
    assert got == {(2, 1), (3, 2), (5, 3)}  # Z-edge to 4 filtered out
    ends = call(
        spark, "apoc.path.expand",
        args={"arg0": "A", "arg1": "X>|Y>", "arg2": ">C", "arg3": 1, "arg4": 3},
        context={"graph": g},
    )
    assert {(r["node"], r["level"]) for r in ends.collect()} == {(3, 2)}
    with pytest.raises(ValueError, match="incoming"):
        call(
            spark, "apoc.path.expand",
            args={"arg0": "A", "arg1": "<X", "arg2": "", "arg3": 1, "arg4": 2},
            context={"graph": g},
        )


def test_apoc_cypher_run_and_do_it(spark):
    """apoc.cypher.run executes a dynamic read statement through the SAME
    session (parameters rendered, live store visible); write clauses are
    refused and routed to apoc.cypher.doIt, whose effects are immediately
    readable back."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:P {k: 1, v: 'a'})")
    s.run("CREATE (:P {k: 2, v: 'b'})")
    out = s.run(
        "CALL apoc.cypher.run('MATCH (p:P) WHERE p.k >= $lo "
        "RETURN p.v AS v ORDER BY v', {lo: 1}) YIELD v RETURN v"
    )
    assert [r.v for r in out.collect()] == ["a", "b"]
    with pytest.raises(ValueError, match="read-only"):
        s.run("CALL apoc.cypher.run('CREATE (:P {k: 3})', {})")
    # write verbs are refused ANYWHERE at clause depth 0, not just as the
    # leading token (ADVICE r8): WITH-prefixed and mid-pipeline writes
    with pytest.raises(ValueError, match="read-only"):
        s.run("CALL apoc.cypher.run('WITH 1 AS x CREATE (:P {k: x})', {})")
    with pytest.raises(ValueError, match="read-only"):
        s.run("CALL apoc.cypher.run('MATCH (p:P) DETACH DELETE p', {})")
    with pytest.raises(ValueError, match="read-only"):
        s.run(
            "CALL apoc.cypher.run('UNWIND [9] AS k CREATE (:P {k: k})', {})"
        )
    # a write hidden inside a CALL {} subquery (brace depth > 0) is
    # refused too — braces host clauses, unlike paren/bracket nesting
    with pytest.raises(ValueError, match="read-only"):
        s.run(
            "CALL apoc.cypher.run('CALL { CREATE (:P {k: 9}) } "
            "RETURN 1 AS one', {})"
        )
    # ...but a string literal, property access, or map key/value spelling
    # a verb is fine
    lit = s.run(
        "CALL apoc.cypher.run('MATCH (p:P) WHERE p.v <> \"please DELETE\" "
        "RETURN count(*) AS n', {}) YIELD n RETURN n"
    )
    assert lit.collect()[0].n == 2
    lit2 = s.run(
        "CALL apoc.cypher.run('MATCH (p:P {k: 1}) RETURN p.delete AS d, "
        "{merge: 1, x: 2} AS m', {}) YIELD d RETURN d"
    )
    assert lit2.collect()[0].d is None
    # FOREACH is itself a write clause (its parenthesized body holds the
    # CREATE, which the paren-skip would otherwise exempt) — refused
    # (ADVICE r9)
    with pytest.raises(ValueError, match="read-only"):
        s.run(
            "CALL apoc.cypher.run('FOREACH (x IN [1] | CREATE (:P {k: x}))'"
            ", {})"
        )
    # an unbalanced closer would drive the depth counter negative and
    # disable the scan for the rest of the statement — fail closed
    with pytest.raises(ValueError, match="unbalanced"):
        s.run("CALL apoc.cypher.run('WITH 1) AS x DELETE x', {})")
    s.run("CALL apoc.cypher.doIt('CREATE (:P {k: 3, v: \"c\"})', {})")
    after = s.run("MATCH (p:P) RETURN count(*) AS n")
    assert after.collect()[0].n == 3


def test_vector_index_ddl_and_probe(spark):
    """CREATE VECTOR INDEX trains an IVF inverted file; queryNodes by
    index name probes it. With nprobe == cells the probe is exact (==
    brute force); with nprobe < cells the hits are a subset of the
    corpus ranked consistently. DDL surface: SHOW VECTOR INDEXES, DROP,
    and fail-loud on unsupported similarity / missing dimensions."""
    import pytest as _pytest

    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.graph import PropertyGraph
    from docker_neo4j_spark.storage.store import GraphStore

    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0, 0.0]),
        (3, [0.0, 1.0, 0.0, 0.0]),
        (4, [0.0, 0.9, 0.1, 0.0]),
        (5, [0.0, 0.0, 1.0, 0.0]),
        (6, [0.0, 0.0, 0.0, 1.0]),
    ]
    nodes = spark.createDataFrame(
        [(i, ["V"], v) for i, v in vecs],
        "id long, labels array<string>, embedding array<float>",
    )
    rels = spark.createDataFrame([], "id long, src long, dst long, type string")
    s = Session(spark, store=GraphStore(spark, PropertyGraph(nodes=nodes, rels=rels)))
    s.run(
        "CREATE VECTOR INDEX vidx FOR (n:V) ON (n.embedding) "
        "OPTIONS {dimensions: 4, similarity: 'cosine', cells: 3, nprobe: 3}"
    )
    shown = s.run("SHOW VECTOR INDEXES").collect()
    assert [r.name for r in shown] == ["vidx"] and shown[0].type == "VECTOR"
    exact = s.run(
        "CALL db.index.vector.queryNodes('vidx', 2, [1.0, 0.05, 0.0, 0.0]) "
        "YIELD node, score RETURN node, score"
    ).collect()
    assert [r.node for r in exact] == [1, 2]
    # brute-force label path (legacy '' / label indexName) agrees
    brute = s.run(
        "CALL db.index.vector.queryNodes('V', 2, [1.0, 0.05, 0.0, 0.0]) "
        "YIELD node, score RETURN node, score"
    ).collect()
    assert [(r.node, r.score) for r in brute] == [(r.node, r.score) for r in exact]
    with _pytest.raises(ValueError, match="dimensions"):
        s.run("CREATE VECTOR INDEX bad FOR (n:V) ON (n.embedding)")
    with _pytest.raises(ValueError, match="similarity"):
        s.run(
            "CREATE VECTOR INDEX bad2 FOR (n:V) ON (n.embedding) "
            "OPTIONS {dimensions: 4, similarity: 'euclidean'}"
        )
    s.run("DROP INDEX vidx")
    assert s.run("SHOW VECTOR INDEXES").count() == 0


def test_dropped_vector_index_stops_probing(spark):
    """After DROP INDEX the trained inverted file is evicted — queryNodes
    falls back to the label path (which doesn't match the index name →
    empty), not the stale IVF data."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.graph import PropertyGraph
    from docker_neo4j_spark.storage.store import GraphStore

    nodes = spark.createDataFrame(
        [(1, ["V"], [1.0, 0.0]), (2, ["V"], [0.0, 1.0])],
        "id long, labels array<string>, embedding array<float>",
    )
    rels = spark.createDataFrame([], "id long, src long, dst long, type string")
    s = Session(spark, store=GraphStore(spark, PropertyGraph(nodes=nodes, rels=rels)))
    s.run(
        "CREATE VECTOR INDEX gone FOR (n:V) ON (n.embedding) "
        "OPTIONS {dimensions: 2, cells: 2, nprobe: 2}"
    )
    assert s.run(
        "CALL db.index.vector.queryNodes('gone', 1, [1.0, 0.0]) YIELD node RETURN node"
    ).count() == 1
    s.run("DROP INDEX gone")
    assert s.run(
        "CALL db.index.vector.queryNodes('gone', 1, [1.0, 0.0]) YIELD node RETURN node"
    ).count() == 0


def test_apoc_refactor_merge_nodes(spark):
    """mergeNodes: survivor = first id; labels union in list order,
    first-non-null properties, relationships rewired (self-rels kept)."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    store = GraphStore(spark)
    a, b, c = store.create_nodes("P", [{"name": "a"}, {"name": None}, {"name": "c"}])
    store.set_props_by_ids(
        spark.createDataFrame([(b,)], "id long"), {"city": "berlin"}
    )
    store.create_rels("KNOWS", [(a, b), (b, c), (c, a)])
    s = Session(spark, store=store)
    out = s.run(
        f"CALL apoc.refactor.mergeNodes([{a}, {b}]) YIELD id, merged RETURN id, merged"
    ).collect()[0]
    assert out.id == a and out.merged == 1
    nodes = {r.id: r for r in store.graph.nodes.collect()}
    assert b not in nodes
    assert nodes[a].name == "a" and nodes[a].city == "berlin"  # first non-null
    rels = {(r.src, r.dst) for r in store.graph.rels.collect()}
    assert rels == {(a, a), (a, c), (c, a)}  # (a,b)→self kept, (b,c) rewired
    with pytest.raises(ValueError, match="at least two"):
        s.run(f"CALL apoc.refactor.mergeNodes([{a}]) YIELD id RETURN id")
    with pytest.raises(ValueError, match="unknown node ids"):
        s.run(f"CALL apoc.refactor.mergeNodes([{a}, 999999]) YIELD id RETURN id")


def test_apoc_create_and_merge_node_contract(spark):
    """apoc.create.node multi-label; apoc.merge.node matches without
    re-applying onCreateProps; apoc.create.relationship dynamic type."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    a = s.run(
        "CALL apoc.create.node(['A', 'B'], {k: 1}) YIELD id RETURN id"
    ).collect()[0].id
    labs = s.run(f"MATCH (n) WHERE id(n) = {a} RETURN labels(n) AS l").collect()[0].l
    assert sorted(labs) == ["A", "B"]
    m1 = s.run(
        "CALL apoc.merge.node(['A'], {k: 2}, {tag: 'new'}) YIELD id RETURN id"
    ).collect()[0].id
    m2 = s.run(
        "CALL apoc.merge.node(['A'], {k: 2}, {tag: 'IGNORED'}) YIELD id RETURN id"
    ).collect()[0].id
    assert m1 == m2
    tag = s.run("MATCH (n:A {k: 2}) RETURN n.tag AS t").collect()
    assert [r.t for r in tag] == ["new"]
    # multi-label merge applies EVERY label, like apoc.create.node
    # (ADVICE r8: trailing labels were silently dropped)
    m3 = s.run(
        "CALL apoc.merge.node(['A', 'C'], {k: 7}, {}) YIELD id RETURN id"
    ).collect()[0].id
    ml = s.run(f"MATCH (n) WHERE id(n) = {m3} RETURN labels(n) AS l").collect()[0].l
    assert sorted(ml) == ["A", "C"]
    # re-merge on the ident props finds the same node, labels stable
    m4 = s.run(
        "CALL apoc.merge.node(['A', 'C'], {k: 7}, {}) YIELD id RETURN id"
    ).collect()[0].id
    assert m4 == m3
    ml2 = s.run(f"MATCH (n) WHERE id(n) = {m3} RETURN labels(n) AS l").collect()[0].l
    assert sorted(ml2) == ["A", "C"]
    s.run(f"CALL apoc.create.relationship({a}, 'REL_X', {{w: 1}}, {m1}) YIELD id RETURN id")
    assert (
        s.run("MATCH (:A)-[r:REL_X]->(:A) RETURN count(*) AS n").collect()[0].n == 1
    )
    with pytest.raises(ValueError, match="at least one label"):
        s.run("CALL apoc.create.node([], {}) YIELD id RETURN id")


def test_apoc_schema_assert_declarative(spark):
    """schema.assert: creates what's listed, drops unlisted managed
    entries, keeps matches, leaves VECTOR indexes alone."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.graph import PropertyGraph
    from docker_neo4j_spark.storage.store import GraphStore

    nodes = spark.createDataFrame(
        [(1, ["V"], [1.0, 0.0])],
        "id long, labels array<string>, embedding array<float>",
    )
    rels = spark.createDataFrame([], "id long, src long, dst long, type string")
    s = Session(spark, store=GraphStore(spark, PropertyGraph(nodes=nodes, rels=rels)))
    s.run("CREATE INDEX old_idx FOR (n:A) ON (n.gone)")
    s.run(
        "CREATE VECTOR INDEX v1 FOR (n:V) ON (n.embedding) "
        "OPTIONS {dimensions: 2, cells: 1, nprobe: 1}"
    )
    out = {
        (r.label, r.key, r.unique): r.action
        for r in s.run(
            "CALL apoc.schema.assert({B: ['p1', 'p2']}, {C: ['k']}) "
            "YIELD label, key, unique, action RETURN label, key, unique, action"
        ).collect()
    }
    assert out == {
        ("A", "gone", False): "DROPPED",
        ("B", "p1", False): "CREATED",
        ("B", "p2", False): "CREATED",
        ("C", "k", True): "CREATED",
    }
    shown = {r.name for r in s.run("SHOW INDEXES").collect()}
    assert shown == {"index_B_p1", "index_B_p2", "v1"}  # vector untouched
    cons = {r.name for r in s.run("SHOW CONSTRAINTS").collect()}
    assert cons == {"constraint_C_k"}
    # idempotent: second assert keeps everything
    again = {
        r.action
        for r in s.run(
            "CALL apoc.schema.assert({B: ['p1', 'p2']}, {C: ['k']}) "
            "YIELD action RETURN action"
        ).collect()
    }
    assert again == {"KEPT"}


def test_apoc_load_xml(spark, tmp_path):
    """apoc.load.xml over an element-per-line file: attribute map per
    element, entity decoding, absent attribute → NULL, wrong-element
    lines skipped."""
    from docker_neo4j_spark.cypher.session import Session

    f = tmp_path / "data.xml"
    f.write_text(
        '<row a="x&amp;y" b="1"/>\n'
        '<other a="skipme"/>\n'
        '<row a="plain"/>\n'
    )
    s = Session(spark)
    rows = s.run(
        f"CALL apoc.load.xml('{f}', 'row', ['a', 'b']) YIELD value RETURN value"
    ).collect()
    got = sorted((r["value"]["a"], r["value"]["b"]) for r in rows)
    assert got == [("plain", None), ("x&y", "1")]
    import pytest as _pytest

    with _pytest.raises(Exception, match="attrs"):
        s.run(f"CALL apoc.load.xml('{f}', 'row', []) YIELD value RETURN value")


def test_show_functions_and_new_registrations(spark):
    """SHOW FUNCTIONS lists the scalar registry sorted; r9 registrations
    (apoc.text.phonetic, gds.similarity.pearson) callable in RETURN."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    names = [r["name"] for r in s.run("SHOW FUNCTIONS").collect()]
    assert names == sorted(names)
    assert "apoc.text.phonetic" in names
    assert "gds.similarity.pearson" in names
    r = s.run("RETURN apoc.text.phonetic('Ashcraft') AS sx").first()
    assert r["sx"] == "A261"
    r = s.run(
        "RETURN gds.similarity.pearson([1.0, 2.0, 3.0], [2.0, 4.0, 6.0]) AS p"
    ).first()
    assert abs(r["p"] - 1.0) < 1e-12


def test_periodic_commit_drains_until_zero(spark):
    """apoc.periodic.commit: the limited write statement repeats until it
    reports 0 — 7 nodes at LIMIT 3 → 3+3+1 updates over 4 executions
    (the final zero-round counts as an execution, APOC's contract)."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    for i in range(7):
        s.run(f"CREATE (:drainme {{k: {i}}})")
    out = s.run(
        "CALL apoc.periodic.commit("
        "'MATCH (n:drainme) WITH n ORDER BY n.k LIMIT $limit "
        "DETACH DELETE n RETURN count(*) AS c', {limit: 3})"
    ).first()
    assert out["updates"] == 7
    assert out["executions"] == 4
    assert out["failedCommits"] == 0
    assert s.run("MATCH (n:drainme) RETURN count(*) AS n").first()["n"] == 0


def test_apoc_util_validate_and_sleep(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    # false predicate → no-op
    s.run("CALL apoc.util.validate(false, 'never', [])")
    with pytest.raises(ValueError, match="got 7"):
        s.run("CALL apoc.util.validate(true, 'got %d', [7])")
    import time

    t0 = time.time()
    s.run("CALL apoc.util.sleep(150)")
    assert time.time() - t0 >= 0.14


def test_call_return_tail_full_projection(spark):
    """The RETURN tail after CALL … YIELD supports expressions,
    aggregates, and ORDER BY (r10 — was a bare column-name select);
    SHOW PROCEDURES/FUNCTIONS accept YIELD/WHERE/RETURN tails;
    apoc.help searches the combined catalogs."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:City {name:'a'})")
    out = s.run("CALL db.labels() YIELD label RETURN label ORDER BY label")
    assert [r.label for r in out.collect()] == ["City"]
    c = s.run(
        "CALL db.propertyKeys() YIELD propertyKey RETURN count(*) AS c"
    ).collect()[0].c
    assert c == 1
    two = s.run(
        "SHOW PROCEDURES YIELD name WHERE name STARTS WITH 'apoc' "
        "RETURN name ORDER BY name LIMIT 2"
    ).collect()
    assert [r.name for r in two] == ["apoc.case", "apoc.coll.zipToRows"]  # r13 added zipToRows
    h = s.run("CALL apoc.help('cypher.run')").collect()
    assert [r.name for r in h] == ["apoc.cypher.run"]
    assert h[0].type == "procedure"


def test_gds_stream_procedures_over_projection(spark, sf_dir):
    """r11: the GDS CALL execution surface — project once, stream
    pageRank/wcc/louvain/labelPropagation/degree/nodeSimilarity."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark, build_graph(spark, sf_dir)))
    s.run("CALL gds.graph.project('sg', ['Nation', 'Region'], ['IN_REGION'])")
    comps = s.run(
        "CALL gds.wcc.stream('sg') YIELD nodeId, componentId "
        "RETURN count(DISTINCT componentId) AS c"
    ).collect()[0].c
    assert comps == 5  # one component per region star
    pr = s.run(
        "CALL gds.pageRank.stream('sg') YIELD nodeId, score "
        "RETURN count(*) AS n, round(sum(score)) AS mass"
    ).collect()[0]
    assert (pr.n, pr.mass) == (30, 30.0)  # mass conservation
    deg = s.run(
        "CALL gds.degree.stream('sg', 'REVERSE') YIELD nodeId, score "
        "WHERE score > 0 RETURN count(*) AS c, sum(score) AS total"
    ).collect()[0]
    assert (deg.c, deg.total) == (5, 25.0)
    sim = s.run(
        "CALL gds.nodeSimilarity.stream('sg') YIELD node1, node2, similarity "
        "RETURN count(*) AS pairs, min(similarity) AS lo"
    ).collect()[0]
    assert sim.pairs == 50 and sim.lo == 1.0  # same-region nations identical
    lpa = s.run(
        "CALL gds.labelPropagation.stream('sg') YIELD nodeId RETURN count(*) AS n"
    ).collect()[0].n
    assert lpa == 30
    lou = s.run(
        "CALL gds.louvain.stream('sg') YIELD nodeId, communityId "
        "RETURN count(DISTINCT communityId) AS c"
    ).collect()[0].c
    assert 1 <= lou <= 30
    with pytest.raises(ValueError, match="does not exist"):
        s.run("CALL gds.wcc.stream('nope')")


def test_gds_kcore_stream_leaves_no_cached_layer(spark):
    """gds.kcore.stream runs one fixed-k peel per core layer and folds
    each layer into the core values: no layer may stay in the session's
    CacheManager once the result is collected."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    # two 4-cliques joined by a 3-node path: the path nodes are core 2
    s.run("UNWIND range(1, 11) AS i CREATE (:Kc {k: i})")
    pairs = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    pairs += [(a, b) for a in range(8, 12) for b in range(a + 1, 12)]
    pairs += [(4, 5), (5, 6), (6, 7), (7, 8)]
    for a, b in pairs:
        s.run(f"MATCH (a:Kc {{k: {a}}}), (b:Kc {{k: {b}}}) CREATE (a)-[:E]->(b)")
    s.run("CALL gds.graph.project('kcg', 'Kc', 'E')")
    try:
        spark.catalog.clearCache()
        cores = s.run(
            "CALL gds.kcore.stream('kcg') YIELD coreValue "
            "RETURN coreValue, count(*) AS n ORDER BY coreValue"
        ).collect()
        assert [(r.coreValue, r.n) for r in cores] == [(2, 3), (3, 8)]
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    finally:
        s.run("CALL gds.graph.drop('kcg')")


def test_gds_mutate_then_drop_releases_projection(spark, sf_dir):
    """project → wcc.mutate → drop leaves no blocks pinned: mutate frees
    the node frame it replaces and the kernel result it folded in, and
    drop frees the entry's frames."""
    import time

    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    def pinned():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    s = Session(spark, store=GraphStore(spark, build_graph(spark, sf_dir)))
    start = pinned()
    s.run("CALL gds.graph.project('mg', ['Nation', 'Region'], ['IN_REGION'])")
    out = s.run("CALL gds.wcc.mutate('mg', 'comp')").collect()[0]
    assert (out.componentCount, out.nodePropertiesWritten) == (5, 30)
    props = s.run(
        "CALL gds.graph.nodeProperties.stream('mg', ['comp']) "
        "YIELD nodeId RETURN count(*) AS n"
    ).collect()[0].n
    assert props == 30
    s.run("CALL gds.graph.drop('mg')")
    deadline = time.time() + 15  # block removal is asynchronous
    while pinned() > start and time.time() < deadline:
        time.sleep(0.25)
    assert pinned() == start


def test_gds_write_mode_lands_on_store(spark, sf_dir):
    """r11: gds.wcc.write / gds.pageRank.write land node properties on
    the live store, readable by the next MATCH."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark, build_graph(spark, sf_dir)))
    s.run("CALL gds.graph.project('wg', ['Nation', 'Region'], ['IN_REGION'])")
    out = s.run("CALL gds.wcc.write('wg', 'comp')").collect()[0]
    assert (out.nodePropertiesWritten, out.componentCount) == (30, 5)
    back = s.run(
        "MATCH (n:Nation) RETURN count(DISTINCT n.comp) AS c"
    ).collect()[0].c
    assert back == 5
    s.run("CALL gds.pageRank.write('wg', 'rank')")
    ranked = s.run(
        "MATCH (r:Region) WHERE r.rank > 1 RETURN count(*) AS c"
    ).collect()[0].c
    assert ranked == 5  # every region accumulates its nations' mass


def test_gds_config_map_call_shapes(spark, sf_dir):
    """r12 (VERDICT r11 task 1): the canonical GDS config-map argument —
    ``gds.wcc.write('g', {writeProperty:'cc'})`` and
    ``gds.pageRank.stream('g', {maxIterations:5})`` — unpacks into the
    procedure's named parameters; unknown keys raise the GDS error shape."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.procedures.registry import ProcedureError, _graphs_for
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    _graphs_for(spark).pop("cmg", None)
    s = Session(spark, store=GraphStore(spark, build_graph(spark, sf_dir)))
    s.run("CALL gds.graph.project('cmg', ['Nation', 'Region'], ['IN_REGION'])")
    out = s.run("CALL gds.wcc.write('cmg', {writeProperty: 'cmcc'})").collect()[0]
    assert (out.nodePropertiesWritten, out.componentCount) == (30, 5)
    back = s.run(
        "MATCH (n:Nation) RETURN count(DISTINCT n.cmcc) AS c"
    ).collect()[0].c
    assert back == 5
    pr = s.run(
        "CALL gds.pageRank.stream('cmg', {maxIterations: 5, dampingFactor: 0.85}) "
        "YIELD nodeId, score RETURN count(*) AS n, round(sum(score)) AS mass"
    ).collect()[0]
    assert (pr.n, pr.mass) == (30, 30.0)
    with pytest.raises(ProcedureError, match="Unexpected configuration key: bogus"):
        s.run("CALL gds.wcc.write('cmg', {bogus: 'x'})")
    # positional-string form keeps working alongside the map form
    out2 = s.run("CALL gds.wcc.write('cmg', 'cmcc2')").collect()[0]
    assert out2.componentCount == 5


def test_gds_project_string_and_star_filters(spark, sf_dir):
    """r12 (VERDICT r11 task 2): a bare string label/type coerces to a
    one-element list (it used to iterate per-character into a SILENT
    empty projection); '*' is the no-filter wildcard; an empty projection
    fails loud at algorithm entry instead of ZeroDivisionError."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.procedures.registry import ProcedureError, _graphs_for
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    for g in ("pss1", "pss2", "pss_star", "pss_empty"):
        _graphs_for(spark).pop(g, None)
    s = Session(spark, store=GraphStore(spark, build_graph(spark, sf_dir)))
    str_form = s.run(
        "CALL gds.graph.project('pss1', 'Nation', 'IN_REGION')"
    ).collect()[0]
    list_form = s.run(
        "CALL gds.graph.project('pss2', ['Nation'], ['IN_REGION'])"
    ).collect()[0]
    assert (str_form.nodeCount, str_form.relationshipCount) == (
        list_form.nodeCount,
        list_form.relationshipCount,
    )
    assert str_form.nodeCount == 25
    star = s.run("CALL gds.graph.project('pss_star', '*', '*')").collect()[0]
    assert star.nodeCount > 25 and star.relationshipCount > 0
    empty = s.run(
        "CALL gds.graph.project('pss_empty', 'NoSuchLabel', '*')"
    ).collect()[0]
    assert (empty.nodeCount, empty.relationshipCount) == (0, 0)
    with pytest.raises(ProcedureError, match="is empty"):
        s.run("CALL gds.pageRank.stream('pss_empty')")
    with pytest.raises(ProcedureError, match="is empty"):
        s.run("CALL gds.wcc.write('pss_empty', {writeProperty: 'x'})")


def test_procedure_error_hygiene_boundary(spark):
    """r12 (VERDICT r11 task 5): no raw Python/Py4J exception escapes a
    CALL — failures re-raise as ProcedureError (a ValueError) carrying
    the procedure name and argument summary."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.procedures.registry import ProcedureError

    s = Session(spark)
    # engine-shaped ValueErrors keep their message, typed as ProcedureError
    with pytest.raises(ProcedureError, match="does not exist"):
        s.run("CALL gds.pageRank.stream('nope', {maxIterations: 5})")
    # too many positional arguments → loud, typed
    with pytest.raises(ProcedureError, match="too many arguments"):
        s.run("CALL gds.graph.drop('a', 'b', 'c', 'd', 'e')")


def test_gds_orientation_projections_and_new_surface(spark, sf_dir):
    """r12: relationship-projection maps with per-type orientation
    ({T: {orientation: 'UNDIRECTED'|'REVERSE'}}), gds.graph.exists, the
    extra write modes, dijkstra config-map source, and YIELD aliases."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.procedures.registry import ProcedureError, _graphs_for
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    for g in ("org_u", "org_r", "org_n"):
        _graphs_for(spark).pop(g, None)
    s = Session(spark, store=GraphStore(spark, build_graph(spark, sf_dir)))
    nat = s.run(
        "CALL gds.graph.project('org_n', ['Nation', 'Region'], ['IN_REGION'])"
    ).collect()[0]
    und = s.run(
        "CALL gds.graph.project('org_u', ['Nation', 'Region'], "
        "{IN_REGION: {orientation: 'UNDIRECTED'}})"
    ).collect()[0]
    rev = s.run(
        "CALL gds.graph.project('org_r', ['Nation', 'Region'], "
        "{IN_REGION: {orientation: 'REVERSE'}})"
    ).collect()[0]
    assert und.relationshipCount == 2 * nat.relationshipCount
    assert rev.relationshipCount == nat.relationshipCount
    # REVERSE: natural out-degree now sits on regions
    deg = s.run(
        "CALL gds.degree.stream('org_r') YIELD nodeId, score "
        "WHERE score > 0 RETURN count(*) AS c, sum(score) AS total"
    ).collect()[0]
    assert (deg.c, deg.total) == (5, 25.0)
    # UNDIRECTED: every node has positive degree
    deg_u = s.run(
        "CALL gds.degree.stream('org_u') YIELD nodeId, score "
        "WHERE score > 0 RETURN count(*) AS c"
    ).collect()[0].c
    assert deg_u == 30
    # graph.exists
    ex = s.run("CALL gds.graph.exists('org_u')").collect()[0]
    assert (ex.graphName, ex.exists) == ("org_u", True)
    assert s.run("CALL gds.graph.exists('nope')").collect()[0].exists is False
    # unknown projection key / orientation rejected loud
    with pytest.raises(ProcedureError, match="projection key"):
        s.run(
            "CALL gds.graph.project('bad1', '*', {IN_REGION: {bogus: 1}})"
        )
    with pytest.raises(ProcedureError, match="[Oo]rientation"):
        s.run(
            "CALL gds.graph.project('bad2', '*', "
            "{IN_REGION: {orientation: 'SIDEWAYS'}})"
        )
    # write modes land on the store and read back
    lpa = s.run(
        "CALL gds.labelPropagation.write('org_u', {writeProperty: 'lpac'})"
    ).collect()[0]
    assert lpa.nodePropertiesWritten == 30
    assert s.run(
        "MATCH (n:Nation) RETURN count(DISTINCT n.lpac) AS c"
    ).collect()[0].c >= 1
    dw = s.run(
        "CALL gds.degree.write('org_u', {writeProperty: 'degw'})"
    ).collect()[0]
    assert dw.nodePropertiesWritten == 30
    assert s.run(
        "MATCH (r:Region) WHERE r.degw >= 5 RETURN count(*) AS c"
    ).collect()[0].c == 5
    # dijkstra over the undirected projection: source + region + siblings
    dj = s.run(
        "CALL gds.shortestPath.dijkstra.stream('org_u', "
        "{sourceNode: 2000000000000}) "
        "YIELD targetNode AS t, totalCost AS cost "
        "RETURN count(*) AS n, max(cost) AS far"
    ).collect()[0]
    assert (dj.n, dj.far) == (6, 2.0)  # self + region + 4 siblings


def _signature_parts(signature: str, name: str) -> tuple[list[str], list[str]]:
    """(parameter names, YIELD column names) of a SHOW PROCEDURES
    signature ``name(p :: T, q = v :: T) :: (a :: T, …)``."""
    import re

    params, _, outs = signature[len(name):].partition(") :: (")

    def names(part: str) -> list[str]:
        return [re.split(r"\s*(?:=|::)", p.strip())[0] for p in part.split(",") if p.strip()]

    return names(params.lstrip("(")), names(outs.rstrip(")"))


def test_signatures_list_every_accepted_parameter():
    """SHOW PROCEDURES advertises exactly the parameters a CALL binds, in
    binding order: the procedure function's parameters minus the ones
    the engine injects."""
    import inspect

    from docker_neo4j_spark.procedures.registry import _CONTEXT_PARAMS, _REGISTRY

    wrong = {}
    for name, proc in _REGISTRY.items():
        accepted = [
            p for p in inspect.signature(proc.fn).parameters
            if p != "spark" and p not in _CONTEXT_PARAMS
        ]
        advertised, _ = _signature_parts(proc.signature, name)
        if advertised != accepted:
            wrong[name] = (advertised, accepted)
    assert wrong == {}


_GDS_MODES = [
    *(f"gds.{a}.stream" for a in (
        "pageRank", "wcc", "labelPropagation", "louvain", "degree",
        "betweenness", "triangleCount", "localClusteringCoefficient", "scc",
        "eigenvector", "articleRank", "closeness", "closeness.harmonic",
        "kcore", "leiden", "dag.topologicalSort",
    )),
    *(f"gds.{a}.write" for a in ("wcc", "pageRank", "labelPropagation", "louvain", "degree")),
    *(f"gds.{a}.stats" for a in ("wcc", "pageRank", "louvain", "triangleCount")),
    *(f"gds.{a}.mutate" for a in ("wcc", "pageRank")),
]

# the Spark type each write/mutate mode stores its property as
_STORED_TYPE = {
    "gds.wcc.write": "bigint", "gds.pageRank.write": "double",
    "gds.labelPropagation.write": "bigint", "gds.louvain.write": "bigint",
    "gds.degree.write": "double",
    "gds.wcc.mutate": "bigint", "gds.pageRank.mutate": "double",
}


@pytest.fixture(scope="module")
def nation_region(spark, sf_dir):
    """A Session over the sf0.001 store with the 30-node Nation/Region
    projection ``nr`` (25 nations, 5 regions)."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.procedures.registry import _graphs_for
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    _graphs_for(spark).pop("nr", None)
    s = Session(spark, store=GraphStore(spark, build_graph(spark, sf_dir)))
    s.run("CALL gds.graph.project('nr', ['Nation', 'Region'], ['IN_REGION'])")
    yield s
    s.run("CALL gds.graph.drop('nr')")


@pytest.mark.parametrize("name", _GDS_MODES)
def test_gds_mode_yields_its_signature(spark, nation_region, name):
    """Every GDS node-algorithm mode yields the columns its signature
    advertises, in order: a stream one row per projected node, write,
    stats and mutate one summary row; write and mutate store the
    property with the algorithm's type."""
    from docker_neo4j_spark.procedures.registry import _REGISTRY, _graphs_for

    mode = name.rsplit(".", 1)[1]
    prop = "p_" + name.replace(".", "_")
    arg = f", '{prop}'" if mode in ("write", "mutate") else ""
    out = nation_region.run(f"CALL {name}('nr'{arg})")
    rows = out.collect()
    _, yields = _signature_parts(_REGISTRY[name].signature, name)
    assert out.columns == yields
    assert len(rows) == (30 if mode == "stream" else 1)
    if mode == "write":
        stored = dict(nation_region.store.graph.nodes.dtypes)[prop]
    elif mode == "mutate":
        stored = dict(_graphs_for(spark)["nr"][0].dtypes)[prop]
    else:
        return
    assert stored == _STORED_TYPE[name]


def test_gds_stats_free_the_kernel_result(spark, nation_region):
    """A stats mode keeps nothing pinned once its row is built: the
    persistent-RDD count returns to its start after wcc.stats and
    louvain.stats."""

    def pinned():
        return len(spark.sparkContext._jsc.getPersistentRDDs())

    start = pinned()
    wcc = nation_region.run("CALL gds.wcc.stats('nr')").collect()[0]
    assert (wcc.componentCount, wcc.nodeCount) == (5, 30)
    assert pinned() == start
    nation_region.run("CALL gds.louvain.stats('nr')").collect()
    assert pinned() == start
