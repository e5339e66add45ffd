"""The serving façade runs the reference test-suite's literal Cypher
strings (DatabaseIO.java / TestConfSettings.java / StubPluginHelper.java)
end-to-end."""

from __future__ import annotations

import pytest

from docker_neo4j_spark.admin import AdminError, Dbms
from docker_neo4j_spark.cypher.session import Session


@pytest.fixture
def session(spark):
    return Session(spark)


def test_reference_smoke_corpus_verbatim(session):
    # DatabaseIO.putInitialDataIntoContainer (line 42)
    r = session.run(
        "CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'}) RETURN arne.name"
    ).collect()
    assert r[0]["arne.name"] == "Arne"

    # DatabaseIO.verifyInitialDataInContainer (line 51)
    r = session.run("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name").collect()
    assert [row["a.name"] for row in r] == ["Arne"]

    # DatabaseIO.putMoreDataIntoContainer (line 63) — lowercase 'return'
    r = session.run(
        "MATCH (a:dog {name:'Arne'}) CREATE (armstrong:dog {name:'Armstrong'})-[:SNIFFS]->(a) "
        "return a.name, armstrong.name"
    ).collect()
    assert r[0]["a.name"] == "Arne" and r[0]["armstrong.name"] == "Armstrong"

    # DatabaseIO.verifyMoreDataIntoContainer (line 74-86): sorted join
    r = session.run("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name").collect()
    assert ",".join(sorted(row["a.name"] for row in r)) == "Armstrong,Arne"


def test_call_listconfig_yield_where(session):
    # DatabaseIO.getConfigurationSettingAsString (line 92)
    r = session.run(
        "CALL dbms.listConfig() YIELD name, value WHERE name='spark.sql.adaptive.enabled' RETURN value"
    ).collect()
    assert len(r) == 1 and r[0]["value"] == "true"


def test_show_procedures_and_scalar_fn(session):
    names = [r["name"] for r in session.run("SHOW PROCEDURES").collect()]
    assert "example.defaultValues" in names
    # TestConfSettings.java:411 — RETURN apoc.version()
    from docker_neo4j_spark import __version__

    r = session.run("RETURN apoc.version()").collect()
    assert r[0]["apoc.version()"] == __version__


def test_match_count_and_order_limit(session):
    session.run("CREATE (a:cat {name:'Zoe', age:3})")
    session.run("CREATE (a:cat {name:'Ada', age:5})")
    session.run("CREATE (a:cat {name:'Mio', age:1})")
    n = session.run("MATCH (n:cat) RETURN count(n)").first()["count(n)"]
    assert n == 3
    rows = session.run("MATCH (n:cat) RETURN n.name ORDER BY n.age DESC LIMIT 2").collect()
    assert [r["n.name"] for r in rows] == ["Ada", "Zoe"]


def test_password_flow_through_session(spark):
    dbms = Dbms.bootstrap("neo4j/firstsecret")
    s = Session(spark, dbms=dbms, user="neo4j", password="firstsecret")
    s.run("ALTER CURRENT USER SET PASSWORD FROM 'firstsecret' TO 'secondsecret'")
    # old password no longer authenticates
    with pytest.raises(AdminError):
        Session(spark, dbms=dbms, user="neo4j", password="firstsecret")
    s2 = Session(spark, dbms=dbms, user="neo4j", password="secondsecret")
    # legacy CALL dbms.changePassword (DatabaseIO.java:117)
    s2.run("CALL dbms.changePassword('thirdsecret')")
    Session(spark, dbms=dbms, user="neo4j", password="thirdsecret")


def test_queries_refused_while_stopped(spark):
    dbms = Dbms.bootstrap("none")
    s = Session(spark, dbms=dbms)
    s.run("RETURN 1")
    dbms.stop_database("neo4j")
    with pytest.raises(AdminError, match="unavailable"):
        s.run("MATCH (n) RETURN count(n)")
    dbms.start_database("neo4j")
    assert s.run("MATCH (n) RETURN count(n)").first()[0] == 0


def test_match_where_clause(session):
    session.run("CREATE (a:dog {name:'Arne', age: 4})")
    session.run("CREATE (b:dog {name:'Bosse', age: 2})")
    session.run("CREATE (c:dog {name:'Armstrong', age: 7})")

    r = session.run("MATCH (d:dog) WHERE d.age > 3 RETURN d.name ORDER BY d.name").collect()
    assert [row["d.name"] for row in r] == ["Armstrong", "Arne"]

    r = session.run(
        "MATCH (d:dog) WHERE d.name STARTS WITH 'Ar' AND d.age < 5 RETURN d.name"
    ).collect()
    assert [row["d.name"] for row in r] == ["Arne"]

    r = session.run(
        "MATCH (d:dog) WHERE d.name IN ['Bosse', 'Armstrong'] OR d.age = 4 "
        "RETURN d.name ORDER BY d.age DESC LIMIT 2"
    ).collect()
    assert [row["d.name"] for row in r] == ["Armstrong", "Arne"]

    r = session.run(
        "MATCH (d:dog) WHERE NOT (d.age >= 4 OR d.name CONTAINS 'strong') RETURN d.name"
    ).collect()
    assert [row["d.name"] for row in r] == ["Bosse"]

    r = session.run("MATCH (d:dog) WHERE d.age IS NOT NULL RETURN count(*)").collect()
    assert r[0][0] == 3


def test_match_implicit_grouping_aggregates(session):
    session.run("CREATE (a:dog {name:'Arne', age: 4, owner:'kim'})")
    session.run("CREATE (b:dog {name:'Bosse', age: 2, owner:'kim'})")
    session.run("CREATE (c:dog {name:'Armstrong', age: 7, owner:'alex'})")

    # implicit grouping: non-aggregate items are the keys
    r = session.run(
        "MATCH (d:dog) RETURN d.owner, count(*), sum(d.age) ORDER BY d.owner"
    ).collect()
    assert [(row["d.owner"], row["count(*)"], row["sum(d.age)"]) for row in r] == [
        ("alex", 1, 7),
        ("kim", 2, 6),
    ]

    # global aggregates without keys
    r = session.run("MATCH (d:dog) RETURN min(d.age), max(d.age), avg(d.age)").collect()
    assert (r[0][0], r[0][1]) == (2, 7)
    assert abs(r[0][2] - 13 / 3) < 1e-9

    # collect() with deterministic ordering
    r = session.run("MATCH (d:dog) RETURN d.owner, collect(d.name) ORDER BY d.owner").collect()
    assert [tuple(row["collect(d.name)"]) for row in r] == [("Armstrong",), ("Arne", "Bosse")]

    # count DISTINCT
    r = session.run("MATCH (d:dog) RETURN count(DISTINCT d.owner)").collect()
    assert r[0][0] == 2


def test_match_distinct_and_as_alias(session):
    session.run("CREATE (a:dog {name:'Arne', owner:'kim'})")
    session.run("CREATE (b:dog {name:'Bosse', owner:'kim'})")
    session.run("CREATE (c:dog {name:'Armstrong', owner:'alex'})")

    r = session.run("MATCH (d:dog) RETURN DISTINCT d.owner").collect()
    assert sorted(row["d.owner"] for row in r) == ["alex", "kim"]

    r = session.run(
        "MATCH (d:dog) RETURN d.owner AS who, count(*) AS n ORDER BY who"
    ).collect()
    assert [(row["who"], row["n"]) for row in r] == [("alex", 1), ("kim", 2)]


def test_optional_match_string_form(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("CREATE (c:dog {name:'Armstrong'})")

    r = session.run(
        "MATCH (d:dog) OPTIONAL MATCH (d)-[:SNIFFS]->(o:dog) "
        "RETURN d.name, o.name ORDER BY d.name"
    ).collect()
    got = [(row["d.name"], row["o.name"]) for row in r]
    assert got == [("Armstrong", None), ("Arne", "Bosse"), ("Bosse", None)]

    # WHERE on the main match composes with the optional hop
    r = session.run(
        "MATCH (d:dog) WHERE d.name STARTS WITH 'Ar' "
        "OPTIONAL MATCH (d)-[:SNIFFS]->(o:dog) RETURN d.name, o.name ORDER BY d.name"
    ).collect()
    assert [(row["d.name"], row["o.name"]) for row in r] == [
        ("Armstrong", None),
        ("Arne", "Bosse"),
    ]


def test_with_pipeline_aggregate_and_having(session):
    session.run("CREATE (a:dog {name:'Arne', age: 4, owner:'kim'})")
    session.run("CREATE (b:dog {name:'Bosse', age: 2, owner:'kim'})")
    session.run("CREATE (c:dog {name:'Armstrong', age: 7, owner:'alex'})")

    # mid-query aggregation + WHERE on the aggregate (Cypher's HAVING)
    r = session.run(
        "MATCH (d:dog) WITH d.owner AS who, count(*) AS n WHERE n > 1 RETURN who, n"
    ).collect()
    assert [(row["who"], row["n"]) for row in r] == [("kim", 2)]

    # two chained WITH stages; later stages resolve the earlier aliases
    r = session.run(
        "MATCH (d:dog) WITH d.owner AS who, d.age AS age "
        "WITH who, sum(age) AS total RETURN who, total ORDER BY who"
    ).collect()
    assert [(row["who"], row["total"]) for row in r] == [("alex", 7), ("kim", 6)]

    # STARTS WITH in a WHERE must not be mistaken for a WITH stage
    r = session.run(
        "MATCH (d:dog) WHERE d.name STARTS WITH 'Ar' "
        "WITH d.owner AS who, count(*) AS n RETURN who, n ORDER BY who"
    ).collect()
    assert [(row["who"], row["n"]) for row in r] == [("alex", 1), ("kim", 1)]


def test_var_length_string_form(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("MATCH (b:dog {name:'Bosse'}) CREATE (c:dog {name:'Cleo'})<-[:SNIFFS]-(b)")

    r = session.run(
        "MATCH (a:dog {name:'Arne'})-[:SNIFFS*1..3]->(b:dog) "
        "RETURN b.name AS name, hops ORDER BY hops"
    ).collect()
    assert [(row["name"], row["hops"]) for row in r] == [("Bosse", 1), ("Cleo", 2)]

    # exact length *2
    r = session.run(
        "MATCH (a:dog {name:'Arne'})-[:SNIFFS*2]->(b:dog) RETURN b.name AS name"
    ).collect()
    assert [row["name"] for row in r] == ["Cleo"]

    # reversed direction from the sink
    r = session.run(
        "MATCH (c:dog {name:'Cleo'})<-[:SNIFFS*1..3]-(b:dog) "
        "RETURN b.name AS name ORDER BY name"
    ).collect()
    assert [row["name"] for row in r] == ["Arne", "Bosse"]


def test_merge_string_form_idempotent(session):
    r1 = session.run("MERGE (a:dog {name:'Arne'}) RETURN a.name").collect()
    assert r1[0]["a.name"] == "Arne"
    session.run("MERGE (a:dog {name:'Arne'})")  # second merge: no new node
    assert session.run("MATCH (d:dog) RETURN count(*)").collect()[0][0] == 1

    # openCypher atomic-pattern semantics: the WHOLE pattern has no match
    # (no rel yet), so MERGE creates the ENTIRE pattern — including a fresh
    # Arne node, even though one exists individually.
    session.run("MERGE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    assert session.run("MATCH (d:dog) RETURN count(*)").collect()[0][0] == 3

    # ...and the second full-pattern merge matches, creating nothing
    session.run("MERGE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    assert session.run("MATCH (d:dog) RETURN count(*)").collect()[0][0] == 3
    n_rels = session.run(
        "MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN count(*)"
    ).collect()[0][0]
    assert n_rels == 1


def test_undirected_pattern_is_both_orientations(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    # no arrow → union of both orientations, not silently 'out'
    r = session.run(
        "MATCH (a:dog)-[:SNIFFS]-(b:dog) RETURN a.name AS name ORDER BY name"
    ).collect()
    assert [row["name"] for row in r] == ["Arne", "Bosse"]
    # CREATE/MERGE reject undirected rels (Cypher requires a direction)
    with pytest.raises(ValueError):
        session.run("CREATE (a:dog {name:'X'})-[:SNIFFS]-(b:dog {name:'Y'})")
    with pytest.raises(ValueError):
        session.run("MERGE (a:dog {name:'X'})-[:SNIFFS]-(b:dog {name:'Y'})")


def test_unwind_standalone_and_pipeline(session):
    r = session.run("UNWIND [1,2,3] AS x RETURN x ORDER BY x").collect()
    assert [row["x"] for row in r] == [1, 2, 3]
    r = session.run("UNWIND range(1,4) AS x RETURN sum(x) AS s").collect()
    assert r[0]["s"] == 10
    session.run("CREATE (a:dog {name:'Arne'})")
    session.run("CREATE (b:dog {name:'Bosse'})")
    r = session.run(
        "MATCH (d:dog) WITH collect(d.name) AS names UNWIND names AS nm "
        "RETURN nm ORDER BY nm"
    ).collect()
    assert [row["nm"] for row in r] == ["Arne", "Bosse"]


def test_union_and_union_all(session):
    session.run("CREATE (a:dog {name:'Arne'})")
    session.run("CREATE (b:cat {name:'Arne'})")
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n UNION MATCH (c:cat) RETURN c.name AS n"
    ).collect()
    assert [row["n"] for row in r] == ["Arne"]  # distinct
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n UNION ALL MATCH (c:cat) RETURN c.name AS n"
    ).collect()
    assert len(r) == 2
    with pytest.raises(ValueError):
        session.run(
            "MATCH (d:dog) RETURN d.name AS n UNION MATCH (c:cat) RETURN c.name AS n "
            "UNION ALL MATCH (c:cat) RETURN c.name AS n"
        )


def test_skip_pagination(session):
    for i in range(5):
        session.run(f"CREATE (d:dog {{name:'d{i}'}})")
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n ORDER BY n SKIP 2 LIMIT 2"
    ).collect()
    assert [row["n"] for row in r] == ["d2", "d3"]
    r = session.run("MATCH (d:dog) RETURN d.name AS n ORDER BY n SKIP 4").collect()
    assert [row["n"] for row in r] == ["d4"]


def test_pattern_predicate_in_where(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})-[:SNIFFS]->(b:dog {name:'Bosse', age: 3})")
    session.run("CREATE (c:dog {name:'Cleo', age: 1})")
    r = session.run(
        "MATCH (d:dog) WHERE (d)-[:SNIFFS]->(:dog) RETURN d.name AS n"
    ).collect()
    assert [row["n"] for row in r] == ["Arne"]
    r = session.run(
        "MATCH (d:dog) WHERE NOT (d)-[:SNIFFS]->() RETURN d.name AS n ORDER BY n"
    ).collect()
    assert [row["n"] for row in r] == ["Bosse", "Cleo"]
    # exists() / exists {} forms, mixed with a column predicate
    r = session.run(
        "MATCH (d:dog) WHERE exists((d)-[:SNIFFS]->()) AND d.age > 5 RETURN d.name AS n"
    ).collect()
    assert [row["n"] for row in r] == ["Arne"]
    r = session.run(
        "MATCH (d:dog) WHERE exists { MATCH (d)-[:SNIFFS]->(:dog) } RETURN d.name AS n"
    ).collect()
    assert [row["n"] for row in r] == ["Arne"]
    # two bound vars: the predicate joins on both
    r = session.run(
        "MATCH (a:dog), (b:dog) WHERE (a)-[:SNIFFS]->(b) RETURN a.name AS an, b.name AS bn"
    ).collect()
    assert (r[0]["an"], r[0]["bn"]) == ("Arne", "Bosse")


def test_set_remove_statements(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})")
    session.run("CREATE (b:dog {name:'Bosse', age: 3})")
    session.run("MATCH (d:dog) WHERE d.age > 5 SET d.old = true, d.age = 8")
    r = session.run("MATCH (d:dog) WHERE d.old = true RETURN d.name AS n, d.age AS a").collect()
    assert len(r) == 1 and (r[0]["n"], r[0]["a"]) == ("Arne", 8)
    # SET ... RETURN reads its own write
    r = session.run("MATCH (d:dog {name:'Bosse'}) SET d.age = 4 RETURN d.age AS a").collect()
    assert r[0]["a"] == 4
    session.run("MATCH (d:dog {name:'Arne'}) REMOVE d.old")
    assert session.run("MATCH (d:dog) WHERE d.old = true RETURN count(*)").collect()[0][0] == 0


def test_delete_statements(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("CREATE (c:dog {name:'Cleo'})")
    # plain DELETE of a connected node raises (Cypher constraint)
    with pytest.raises(ValueError):
        session.run("MATCH (d:dog {name:'Arne'}) DELETE d")
    # deleting the relationship variable removes just the rel
    session.run("MATCH (a:dog)-[r:SNIFFS]->(b:dog) DELETE r")
    assert session.run("MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN count(*)").collect()[0][0] == 0
    # now plain DELETE works; DETACH DELETE also fine
    session.run("MATCH (d:dog {name:'Arne'}) DELETE d")
    session.run("MATCH (d:dog) DETACH DELETE d")
    assert session.run("MATCH (n) RETURN count(n)").collect()[0][0] == 0


def test_optional_match_multi_hop(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("MATCH (b:dog {name:'Bosse'}) CREATE (c:dog {name:'Cleo'})<-[:SNIFFS]-(b)")
    r = session.run(
        "MATCH (d:dog) OPTIONAL MATCH (d)-[:SNIFFS]->(e:dog)-[:SNIFFS]->(f:dog) "
        "RETURN d.name AS dn, f.name AS fn ORDER BY dn"
    ).collect()
    assert [(row["dn"], row["fn"]) for row in r] == [
        ("Arne", "Cleo"), ("Bosse", None), ("Cleo", None),
    ]


def test_shortest_path_in_match(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("MATCH (b:dog {name:'Bosse'}) CREATE (c:dog {name:'Cleo'})<-[:SNIFFS]-(b)")
    # direct shortcut: Arne->Cleo in addition to the 2-hop chain
    session.run(
        "MATCH (a:dog {name:'Arne'}) CREATE (a)-[:SNIFFS]->(x:dog {name:'X'})"
    )
    r = session.run(
        "MATCH p = shortestPath((a:dog {name:'Arne'})-[:SNIFFS*..4]->(b:dog {name:'Cleo'})) "
        "RETURN b.name AS bn, length(p) AS hops"
    ).collect()
    assert len(r) == 1 and (r[0]["bn"], r[0]["hops"]) == ("Cleo", 2)
    r = session.run(
        "MATCH p = allShortestPaths((a:dog {name:'Arne'})-[:SNIFFS*..4]->(b:dog)) "
        "RETURN b.name AS bn, length(p) AS hops ORDER BY bn"
    ).collect()
    assert [(row["bn"], row["hops"]) for row in r] == [
        ("Bosse", 1), ("Cleo", 2), ("X", 1),
    ]


def test_xor_and_call_subquery(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7, good: true})")
    session.run("CREATE (b:dog {name:'Bosse', age: 3, good: true})")
    session.run("CREATE (c:dog {name:'Cleo', age: 9, good: false})")
    r = session.run(
        "MATCH (d:dog) WHERE d.age > 5 XOR d.good = true RETURN d.name AS n ORDER BY n"
    ).collect()
    assert [row["n"] for row in r] == ["Bosse", "Cleo"]
    r = session.run(
        "CALL { MATCH (d:dog) RETURN d.name AS n, d.age AS a } RETURN count(*) AS c, sum(a) AS s"
    ).collect()
    assert (r[0]["c"], r[0]["s"]) == (3, 19)


def test_optional_match_with_where(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse', age: 3})")
    session.run("MATCH (a:dog {name:'Arne'}) CREATE (a)-[:SNIFFS]->(c:dog {name:'Cleo', age: 9})")
    # WHERE applies inside the optional side: Arne keeps a row even though
    # only one neighbour passes the filter
    r = session.run(
        "MATCH (d:dog {name:'Arne'}) OPTIONAL MATCH (d)-[:SNIFFS]->(o:dog) WHERE o.age > 5 "
        "RETURN d.name AS dn, o.name AS on"
    ).collect()
    assert [(row["dn"], row["on"]) for row in r] == [("Arne", "Cleo")]
    # nothing passes → null row survives (left join, not post-filter)
    r = session.run(
        "MATCH (d:dog {name:'Bosse'}) OPTIONAL MATCH (d)-[:SNIFFS]->(o:dog) WHERE o.age > 99 "
        "RETURN d.name AS dn, o.name AS on"
    ).collect()
    assert [(row["dn"], row["on"]) for row in r] == [("Bosse", None)]


def test_expression_projection(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})")
    session.run("CREATE (b:dog {name:'Bosse', age: 3})")
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n, d.age * 2 + 1 AS x, (d.age + 1) % 4 AS m, "
        "d.name + '!' AS bang, -d.age AS neg ORDER BY n"
    ).collect()
    assert [(row["n"], row["x"], row["m"], row["bang"], row["neg"]) for row in r] == [
        ("Arne", 15, 0, "Arne!", -7),
        ("Bosse", 7, 0, "Bosse!", -3),
    ]
    r = session.run("MATCH (d:dog) WITH d.age * 10 AS a RETURN sum(a) AS s").collect()
    assert r[0]["s"] == 100


def test_string_property_concat(session):
    """`+` over two string-typed properties is Cypher concatenation, not
    numeric addition (ADVICE r9: neither operand is a literal, so the
    static is_str flag alone can't see it — frame dtypes must)."""
    session.run("CREATE (:Person {first: 'Ada', last: 'Lovelace', age: 36})")
    r = session.run(
        "MATCH (n:Person) RETURN n.first + n.last AS full, "
        "n.first + ' ' + n.last AS spaced, n.age + 1 AS a1"
    ).collect()
    assert (r[0]["full"], r[0]["spaced"], r[0]["a1"]) == (
        "AdaLovelace", "Ada Lovelace", 37,
    )


def test_return_entity_record_shape(session):
    """``RETURN n`` / ``RETURN r`` serialize full entities — the record
    shape every Bolt client exposes (DatabaseIO.java:127-128 materializes
    records, not bare ids): node = struct(id, labels, properties), rel =
    struct(id, type, start, end, properties). SURVEY §1.2 NODE row."""
    session.run("CREATE (:dog {name:'Arne', age: 7})")
    session.run("CREATE (:cat {name:'Misse'})")
    session.run(
        "MATCH (a:dog), (b:cat) CREATE (a)-[:CHASES {speed: 9}]->(b)"
    )
    n = session.run("MATCH (n:dog) RETURN n").collect()[0]["n"]
    assert n["labels"] == ["dog"]
    # typed AND decoded at the result boundary (r14 — clients see plain
    # Python values, never VariantVal wrappers)
    assert dict(n["properties"]) == {"name": "Arne", "age": 7}
    assert isinstance(n["id"], int)
    r_row = session.run(
        "MATCH (a:dog)-[r:CHASES]->(b:cat) RETURN r, id(a) AS aid, id(b) AS bid"
    ).collect()[0]
    r = r_row["r"]
    assert r["type"] == "CHASES"
    assert dict(r["properties"]) == {"speed": 9}  # typed + decoded (r14)
    assert (r["start"], r["end"]) == (r_row["aid"], r_row["bid"])
    # ORDER BY n = entity id order (regression for the struct's map field,
    # which Spark cannot order by); DISTINCT dedups by id
    session.run("CREATE (:dog {name:'Bosse', age: 3})")
    rows = session.run("MATCH (n:dog) RETURN DISTINCT n ORDER BY n").collect()
    assert [x["n"]["properties"]["name"] for x in rows] == ["Arne", "Bosse"]
    assert rows[0]["n"]["id"] < rows[1]["n"]["id"]
    # collect(n) gathers id-sorted entity structs; entity grouping keys work
    grouped = session.run(
        "MATCH (n:dog) RETURN collect(n) AS ns, count(*) AS c"
    ).collect()[0]
    assert grouped["c"] == 2
    assert [e["properties"]["name"] for e in grouped["ns"]] == ["Arne", "Bosse"]
    # an unmatched OPTIONAL MATCH variable is NULL, not an entity shell;
    # collect() skips the nulls like Cypher
    opt = session.run(
        "MATCH (n:dog) OPTIONAL MATCH (n)-[:CHASES]->(c:cat) "
        "RETURN n.name AS nn, c ORDER BY nn"
    ).collect()
    assert opt[0]["c"]["properties"]["name"] == "Misse" and opt[1]["c"] is None
    # UNION (distinct) over entity columns dedups via a canonical JSON
    # key — set ops reject map-bearing columns
    u = session.run(
        "MATCH (n:dog {name:'Arne'}) RETURN n UNION MATCH (n:dog) RETURN n"
    )
    assert u.count() == 2


def test_correlated_call_subquery(session):
    """openCypher 9 variable-importing CALL { WITH a … } (r10):
    projection, per-outer-row aggregate (OPTIONAL inner keeps 0-rows),
    per-outer-row ORDER BY + LIMIT top-k, entity collect, and a WHERE
    before the CALL. All decorrelated — one pattern bind + equi-join."""
    session.run("CREATE (:P {name:'x', v: 1})")
    session.run("CREATE (:P {name:'y', v: 2})")
    session.run("CREATE (:Q {name:'z', w: 10})")
    session.run("CREATE (:Q {name:'q', w: 20})")
    session.run("MATCH (a:P {name:'x'}), (b:Q) CREATE (a)-[:R]->(b)")
    rows = session.run(
        "MATCH (a:P) CALL { WITH a MATCH (a)-[:R]->(b:Q) "
        "RETURN b.name AS bn } RETURN a.name AS an, bn ORDER BY an, bn"
    ).collect()
    assert [(r.an, r.bn) for r in rows] == [("x", "q"), ("x", "z")]
    rows = session.run(
        "MATCH (a:P) CALL { WITH a OPTIONAL MATCH (a)-[:R]->(b:Q) "
        "RETURN count(b) AS c } RETURN a.name AS an, c ORDER BY an"
    ).collect()
    assert [(r.an, r.c) for r in rows] == [("x", 2), ("y", 0)]
    top = session.run(
        "MATCH (a:P) CALL { WITH a MATCH (a)-[:R]->(b:Q) "
        "RETURN b.name AS top ORDER BY b.w DESC LIMIT 1 } "
        "RETURN a.name AS an, top"
    ).collect()
    assert [(r.an, r.top) for r in top] == [("x", "q")]
    ent = session.run(
        "MATCH (a:P {name:'x'}) CALL { WITH a MATCH (a)-[:R]->(b:Q) "
        "RETURN b } RETURN b ORDER BY b"
    ).collect()
    assert [e["b"]["properties"]["name"] for e in ent] == ["z", "q"]
    filt = session.run(
        "MATCH (a:P) WHERE a.v > 1 CALL { WITH a MATCH (x:Q) "
        "RETURN count(x) AS nb } RETURN a.name AS an, nb"
    ).collect()
    assert [(r.an, r.nb) for r in filt] == [("y", 2)]


def test_facade_extended_aggregates(session):
    """stDev/stDevP/percentileCont/percentileDisc/apoc.agg.* through
    Session.run (r10 — SURVEY §2.B.4 aggregate surface; before, only the
    DataFrame catalog had them). Nested forms go through the r9 lift."""
    import statistics

    xs = [3, 1, 4, 1, 5, 9, 2, 6]
    for v in xs:
        session.run(f"CREATE (:V {{x: {v}}})")
    row = session.run(
        "MATCH (n:V) RETURN stDev(n.x) AS sd, stDevP(n.x) AS sdp, "
        "percentileCont(n.x, 0.5) AS pc, percentileDisc(n.x, 0.5) AS pd, "
        "round(stDev(n.x), 2) AS rsd, apoc.agg.median(n.x) AS md, "
        "apoc.agg.product(n.x) AS pr"
    ).collect()[0]
    assert row["sd"] == pytest.approx(statistics.stdev(xs))
    assert row["sdp"] == pytest.approx(statistics.pstdev(xs))
    assert row["pc"] == statistics.median(xs)
    assert row["pd"] == 3  # ceil(0.5 * 8) = 4th smallest of 1,1,2,3,...
    assert row["rsd"] == round(statistics.stdev(xs), 2)
    assert row["md"] == statistics.median(xs)
    assert row["pr"] == 3 * 1 * 4 * 1 * 5 * 9 * 2 * 6
    st = session.run(
        "MATCH (n:V) RETURN apoc.agg.statistics(n.x) AS st"
    ).collect()[0]["st"]
    assert st["count"] == 8 and st["min"] == 1 and st["max"] == 9
    with pytest.raises(ValueError, match="DISTINCT"):
        session.run("MATCH (n:V) RETURN stDev(DISTINCT n.x) AS s")


def test_unbalanced_aggregate_is_parse_error(session):
    """An unclosed aggregate call surfaces a ValueError, not a raw
    IndexError from the span scanner (ADVICE r9)."""
    with pytest.raises(ValueError, match="unbalanced"):
        session.run("MATCH (n:dog) RETURN count(n.age AS c")


def test_merge_on_create_on_match_set(session):
    session.run(
        "MERGE (a:dog {name:'Arne'}) ON CREATE SET a.created = true ON MATCH SET a.matched = true"
    )
    r = session.run("MATCH (a:dog {name:'Arne'}) RETURN a.created AS c, a.matched AS m").collect()
    assert (r[0]["c"], r[0]["m"]) == (True, None)
    session.run(
        "MERGE (a:dog {name:'Arne'}) ON CREATE SET a.created = true ON MATCH SET a.matched = true"
    )
    r = session.run("MATCH (a:dog {name:'Arne'}) RETURN a.created AS c, a.matched AS m").collect()
    assert (r[0]["c"], r[0]["m"]) == (True, True)
    assert session.run("MATCH (d:dog) RETURN count(*)").collect()[0][0] == 1


def test_entity_function_resolvers(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})-[:SNIFFS]->(b:dog {name:'Bosse', age: 3})")
    r = session.run(
        "MATCH (a:dog)-[r:SNIFFS]->(b:dog) RETURN labels(b) AS lb, type(r) AS t"
    ).collect()
    assert r[0]["lb"] == ["dog"] and r[0]["t"] == "SNIFFS"
    r = session.run("MATCH (b:dog {name:'Bosse'}) RETURN properties(b) AS p").collect()
    got = dict(r[0]["p"])
    assert got == {"name": "Bosse", "age": 3}  # typed (r11); null-padded keys omitted
    r = session.run("MATCH (d:dog) RETURN sum(d.age * 2) AS s").collect()
    assert r[0]["s"] == 20


def test_scalar_functions_in_return(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})")
    session.run("CREATE (b:dog {name:'bosse', age: 3})")
    r = session.run(
        "MATCH (d:dog) RETURN toUpper(d.name) AS u, substring(d.name, 0, 2) AS s2, "
        "size(d.name) AS n, coalesce(d.owner, d.name) AS o, toUpper(left(d.name, 1)) AS i "
        "ORDER BY u"
    ).collect()
    assert [(x["u"], x["s2"], x["n"], x["o"], x["i"]) for x in r] == [
        ("ARNE", "Ar", 4, "Arne", "A"),
        ("BOSSE", "bo", 5, "bosse", "B"),
    ]
    r = session.run("MATCH (d:dog) WITH size(d.name) AS n RETURN sum(n) AS t").collect()
    assert r[0]["t"] == 9


def test_scalar_functions_in_where(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})")
    session.run("CREATE (b:dog {name:'bosse', age: 3})")
    r = session.run(
        "MATCH (d:dog) WHERE toUpper(d.name) STARTS WITH 'AR' RETURN d.name AS n"
    ).collect()
    assert [row["n"] for row in r] == ["Arne"]
    r = session.run(
        "MATCH (d:dog) WHERE size(d.name) > 4 AND toLower(d.name) CONTAINS 'ss' RETURN d.name AS n"
    ).collect()
    assert [row["n"] for row in r] == ["bosse"]
    r = session.run(
        "MATCH (d:dog) WHERE substring(d.name, 0, 1) = 'A' OR d.age < 5 RETURN count(*) AS c"
    ).collect()
    assert r[0]["c"] == 2
    # entity accessor still resolves in WHERE
    r = session.run("MATCH (d:dog) WHERE labels(d) IS NOT NULL RETURN count(*) AS c").collect()
    assert r[0]["c"] == 2


def test_multi_match_pipeline(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})-[:SNIFFS]->(b:dog {name:'Bosse', age: 3})")
    session.run("MATCH (a:dog {name:'Arne'}) CREATE (a)-[:SNIFFS]->(c:dog {name:'Cleo', age: 9})")
    session.run("MATCH (b:dog {name:'Bosse'}), (c:dog {name:'Cleo'}) CREATE (b)-[:SNIFFS]->(c)")
    # aggregate, filter on it, then MATCH again from the kept binding
    r = session.run(
        "MATCH (a:dog)-[:SNIFFS]->(b:dog) WITH a, count(*) AS n WHERE n >= 2 "
        "MATCH (a)-[:SNIFFS]->(c:dog) RETURN a.name AS an, c.name AS cn ORDER BY cn"
    ).collect()
    assert [(x["an"], x["cn"]) for x in r] == [("Arne", "Bosse"), ("Arne", "Cleo")]
    # WITH passthrough keeps the whole binding (properties usable later)
    r = session.run(
        "MATCH (a:dog) WITH a WHERE a.age > 5 RETURN a.name AS n ORDER BY n"
    ).collect()
    assert [x["n"] for x in r] == ["Arne", "Cleo"]
    # OPTIONAL MATCH after WITH keeps unmatched rows
    r = session.run(
        "MATCH (a:dog {name:'Cleo'}) WITH a OPTIONAL MATCH (a)-[:SNIFFS]->(x:dog) "
        "RETURN a.name AS an, x.name AS xn"
    ).collect()
    assert [(x["an"], x["xn"]) for x in r] == [("Cleo", None)]
    # no shared variable → cartesian
    r = session.run(
        "MATCH (a:dog {name:'Arne'}) WITH a MATCH (z:dog {name:'Cleo'}) "
        "RETURN a.name AS an, z.name AS zn"
    ).collect()
    assert [(x["an"], x["zn"]) for x in r] == [("Arne", "Cleo")]


def test_with_order_by_limit_pipeline(session):
    for i in range(6):
        session.run(f"CREATE (d:dog {{name:'d{i}', age: {i}}})")
    # mid-pipeline top-3 by age, then keep filtering
    r = session.run(
        "MATCH (d:dog) WITH d ORDER BY d.age DESC LIMIT 3 "
        "WITH d WHERE d.age < 5 RETURN d.name AS n ORDER BY n"
    ).collect()
    assert [x["n"] for x in r] == ["d3", "d4"]
    # SKIP inside WITH
    r = session.run(
        "MATCH (d:dog) WITH d.name AS n ORDER BY n SKIP 4 RETURN n ORDER BY n"
    ).collect()
    assert [x["n"] for x in r] == ["d4", "d5"]


def test_return_star_and_with_distinct(session):
    session.run("CREATE (a:dog {name:'Arne', owner:'kim'})")
    session.run("CREATE (b:dog {name:'Bosse', owner:'kim'})")
    r = session.run("MATCH (d:dog) RETURN * ORDER BY d.name").collect()
    # RETURN * yields one ENTITY item per variable (r14 — Neo4j record
    # shape), not raw prefixed binding columns
    assert len(r) == 2 and list(r[0].asDict()) == ["d"]
    assert r[0]["d"]["properties"]["name"] == "Arne"
    r = session.run(
        "MATCH (d:dog) WITH DISTINCT d.owner AS o RETURN o"
    ).collect()
    assert [x["o"] for x in r] == ["kim"]


def test_case_expressions(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})")
    session.run("CREATE (b:dog {name:'Bosse', age: 3})")
    # generic form as a projected value
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n, "
        "CASE WHEN d.age > 5 THEN 'old' ELSE 'young' END AS bucket ORDER BY n"
    ).collect()
    assert [(x["n"], x["bucket"]) for x in r] == [("Arne", "old"), ("Bosse", "young")]
    # simple form; no ELSE → null
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n, "
        "CASE d.name WHEN 'Arne' THEN 1 END AS idx ORDER BY n"
    ).collect()
    assert [(x["n"], x["idx"]) for x in r] == [("Arne", 1), ("Bosse", None)]
    # CASE inside an aggregate
    r = session.run(
        "MATCH (d:dog) RETURN sum(CASE WHEN d.age > 5 THEN 1 ELSE 0 END) AS olds"
    ).collect()
    assert r[0]["olds"] == 1


def test_list_comprehension_and_reduce(session):
    session.run("CREATE (a:dog {name:'Arne'})")
    # comprehension: filter + transform, nested function calls
    r = session.run(
        "MATCH (d:dog) RETURN [w IN split(d.name, 'n') WHERE size(w) > 1 | toUpper(w)] AS ws"
    ).collect()
    assert r[0]["ws"] == ["AR"]
    # filter-only comprehension over a literal range
    r = session.run("RETURN [x IN range(1, 6) WHERE x % 3 = 0] AS xs").collect()
    assert r[0]["xs"] == [3, 6]
    # reduce over a comprehension (nesting both ways)
    r = session.run(
        "RETURN reduce(acc = 0, x IN [y IN range(1, 4) | y * 2] | acc + x) AS tot"
    ).collect()
    assert r[0]["tot"] == 20


def test_arithmetic_in_where(session):
    session.run("CREATE (a:dog {name:'Arne', age: 7})")
    session.run("CREATE (b:dog {name:'Bosse', age: 4})")
    r = session.run(
        "MATCH (d:dog) WHERE d.age % 2 = 0 RETURN d.name AS n"
    ).collect()
    assert [x["n"] for x in r] == ["Bosse"]
    r = session.run(
        "MATCH (d:dog) WHERE d.age * 2 - 1 > 10 RETURN d.name AS n"
    ).collect()
    assert [x["n"] for x in r] == ["Arne"]
    # function call inside WHERE arithmetic
    r = session.run(
        "MATCH (d:dog) WHERE size(d.name) + 1 = 5 RETURN d.name AS n"
    ).collect()
    assert [x["n"] for x in r] == ["Arne"]


def test_temporal_construction_and_duration_arithmetic(session):
    # date()/datetime() construction from literals + duration arithmetic
    r = session.run(
        "RETURN toString(date('1995-03-15') + duration('P1Y2M10D')) AS d"
    ).collect()
    assert r[0]["d"] == "1996-05-25"
    r = session.run(
        "RETURN toString(datetime('1995-03-15 06:00:00') + duration('P1DT2H30M')) AS t"
    ).collect()
    assert r[0]["t"].startswith("1995-03-16 08:30")
    # accessors over a constructed date
    r = session.run("RETURN year(date('1995-03-15')) AS y, month(date('1995-03-15')) AS m").collect()
    assert (r[0]["y"], r[0]["m"]) == (1995, 3)


def test_temporal_over_bound_property(session):
    session.run("CREATE (a:evt {name:'a', day:'2024-02-29'})")
    r = session.run(
        "MATCH (e:evt) RETURN toString(date(e.day) + duration('P14M')) AS anniv"
    ).collect()
    # single-step month addition: 2024-02-29 + 14 months = 2025-04-29
    assert r[0]["anniv"] == "2025-04-29"


def test_fn_call_does_not_swallow_arithmetic(session):
    # `f(a) + g(b)` must parse as an addition of two calls, not one call
    # to f with argument text "a) + g(b" (the r8 regex compiler needed a
    # paren-balance guard for this; the Pratt parser gets it structurally)
    r = session.run("RETURN size('ab') + size('xyz') AS n").collect()
    assert r[0]["n"] == 5


def test_batch_unwind_merge_is_set_based(session):
    rows = [{"ck": i % 50, "name": f"c{i % 50}"} for i in range(150)]
    out = session.run(
        "UNWIND $rows AS r MERGE (c:Cust {ck: r.ck, name: r.name}) RETURN count(*) AS n",
        {"rows": rows},
    ).collect()
    assert out[0]["n"] == 150  # Cypher cardinality: one row per UNWIND element
    n = session.run("MATCH (c:Cust) RETURN count(*) AS n").collect()[0]["n"]
    assert n == 50
    # second overlapping batch inserts only the new keys
    session.run(
        "UNWIND $rows AS r MERGE (c:Cust {ck: r.ck, name: r.name})",
        {"rows": [{"ck": k, "name": f"c{k}"} for k in range(40, 60)]},
    )
    n = session.run("MATCH (c:Cust) RETURN count(*) AS n").collect()[0]["n"]
    assert n == 60


def test_batch_unwind_merge_only_intercepts_its_shape(session):
    # a non-list parameter falls through to the literal renderer
    r = session.run("RETURN $x + 1 AS y", {"x": 41}).collect()
    assert r[0]["y"] == 42


def test_dotted_function_names(session):
    r = session.run(
        "RETURN duration.inDays(date('1995-01-01'), date('1995-03-01')) AS days"
    ).collect()
    assert r[0]["days"] == 59
    r = session.run(
        "RETURN toString(datetime.truncate('month', datetime('1995-03-15 06:30:00'))) AS m"
    ).collect()
    assert r[0]["m"].startswith("1995-03-01 00:00")


def test_batch_unwind_rel_merge(session):
    session.run(
        "UNWIND $rows AS r MERGE (c:City {name: r.name})",
        {"rows": [{"name": n} for n in ["ams", "ber", "cdg"]]},
    )
    out = session.run(
        "UNWIND $rows AS r MATCH (a:City {name: r.f}), (b:City {name: r.t}) "
        "MERGE (a)-[:ROUTE]->(b) RETURN count(*) AS n",
        {"rows": [{"f": "ams", "t": "ber"}, {"f": "ams", "t": "cdg"},
                  {"f": "ams", "t": "ber"}]},  # duplicate pair merges once
    ).collect()
    assert out[0]["n"] == 3
    r = session.run(
        "MATCH (a:City)-[:ROUTE]->(b:City) RETURN count(*) AS n"
    ).collect()
    assert r[0]["n"] == 2
    # re-merging the same batch inserts nothing new
    session.run(
        "UNWIND $rows AS r MATCH (a:City {name: r.f}), (b:City {name: r.t}) "
        "MERGE (a)-[:ROUTE]->(b)",
        {"rows": [{"f": "ams", "t": "ber"}]},
    )
    r = session.run("MATCH (a:City)-[:ROUTE]->(b:City) RETURN count(*) AS n").collect()
    assert r[0]["n"] == 2


def test_batch_rel_merge_counts_only_resolved_endpoints(session):
    # Cypher: the intermediate MATCH drops UNWIND rows whose endpoint keys
    # don't resolve, so count(*) reflects survivors — not the batch size
    session.run(
        "UNWIND $rows AS r MERGE (c:Port {name: r.name})",
        {"rows": [{"name": "lhr"}, {"name": "jfk"}]},
    )
    out = session.run(
        "UNWIND $rows AS r MATCH (a:Port {name: r.f}), (b:Port {name: r.t}) "
        "MERGE (a)-[:ROUTE]->(b) RETURN count(*) AS n",
        {"rows": [{"f": "lhr", "t": "jfk"}, {"f": "lhr", "t": "nosuch"},
                  {"f": "ghost", "t": "jfk"}]},
    ).collect()
    assert out[0]["n"] == 1
    r = session.run("MATCH (a:Port)-[:ROUTE]->(b) RETURN count(*) AS n").collect()
    assert r[0]["n"] == 1


def test_batch_unwind_delete_none_first_key(session):
    # schema inference must skip leading-None keys (string type comes from
    # the first NON-None value, not rows[0])
    session.run(
        "UNWIND $rows AS r CREATE (c:Tag {name: r.name})",
        {"rows": [{"name": f"t{i}"} for i in range(4)]},
    )
    session.run(
        "UNWIND $rows AS r MATCH (c:Tag {name: r.name}) DETACH DELETE c",
        {"rows": [{"name": None}, {"name": "t1"}, {"name": "t3"}]},
    )
    r = session.run("MATCH (c:Tag) RETURN count(*) AS n").collect()
    assert r[0]["n"] == 2


def test_batch_unwind_create(session):
    out = session.run(
        "UNWIND $rows AS r CREATE (c:Item {sku: r.sku, qty: r.qty}) RETURN count(*) AS n",
        {"rows": [{"sku": f"s{i}", "qty": i} for i in range(200)]},
    ).collect()
    assert out[0]["n"] == 200
    r = session.run("MATCH (c:Item) RETURN count(*) AS n, sum(c.qty) AS q").collect()
    assert r[0]["n"] == 200 and r[0]["q"] == sum(range(200))
    # CREATE always inserts — a second identical batch doubles the count
    session.run(
        "UNWIND $rows AS r CREATE (c:Item {sku: r.sku, qty: r.qty})",
        {"rows": [{"sku": "s0", "qty": 0}]},
    )
    r = session.run("MATCH (c:Item) RETURN count(*) AS n").collect()
    assert r[0]["n"] == 201


def test_batch_unwind_delete(session):
    session.run(
        "UNWIND $rows AS r CREATE (c:Box {bid: r.bid})",
        {"rows": [{"bid": i} for i in range(50)]},
    )
    session.run(
        "UNWIND $rows AS r MATCH (c:Box {bid: r.bid}) DETACH DELETE c",
        {"rows": [{"bid": i} for i in range(0, 50, 2)]},
    )
    r = session.run("MATCH (c:Box) RETURN count(*) AS n").collect()
    assert r[0]["n"] == 25
    # plain DELETE refuses while relationships remain
    session.run("CREATE (a:Box {bid: 100})-[:IN]->(b:Box {bid: 101})")
    import pytest as _pytest

    with _pytest.raises(Exception, match="DETACH"):
        session.run(
            "UNWIND $rows AS r MATCH (c:Box {bid: r.bid}) DELETE c",
            {"rows": [{"bid": 100}]},
        )


@pytest.mark.parametrize(
    "q, n",
    [
        ("WITH 1 AS x MATCH (a:CmA), (b:CmB) RETURN count(*) AS c", 6),
        ("MATCH (a:CmA {k: 1}) MATCH (b:CmB), (c:CmA) RETURN count(*) AS c", 6),
        ("UNWIND [1, 2] AS x MATCH (a:CmA {k: x}), (b:CmB {k: x}) RETURN count(*) AS c", 2),
    ],
)
def test_comma_patterns_in_later_match(session, q, n):
    """A MATCH after the first clause binds comma-separated pattern groups
    as the first one does."""
    session.run("UNWIND [1, 2, 3] AS k CREATE (:CmA {k: k})")
    session.run("UNWIND [1, 2] AS k CREATE (:CmB {k: k})")
    assert session.run(q).collect()[0]["c"] == n


def test_parameters_substitute_only_parameter_tokens(session):
    """``$name`` inside a string literal is text, not a parameter."""
    r = session.run(
        "RETURN $s AS s, '$s' AS lit, $sx AS sx", {"s": "x", "sx": "$s"}
    ).collect()
    assert [tuple(x) for x in r] == [("x", "$s", "$s")]


@pytest.mark.parametrize(
    "q, rows, check, want",
    [
        (
            "UNWIND $rows AS r MERGE (n:Ut {k: r.k}) SET n.v = r.v",
            [{"k": 3, "v": "c"}, {"k": 4, "v": "d"}],
            "MATCH (n:Ut) RETURN n.k AS k, n.v AS v ORDER BY k",
            [(1, None), (2, None), (3, "c"), (4, "d")],
        ),
        (
            "UNWIND $rows AS r MATCH (a:Ut {k: r.a}), (b:Ut {k: r.b}) "
            "CREATE (a)-[:UR {w: r.w}]->(b)",
            [{"a": 1, "b": 2, "w": 0.5}, {"a": 2, "b": 3, "w": 1.5}, {"a": 1, "b": 9, "w": 9.0}],
            "MATCH (a:Ut)-[r:UR]->(b:Ut) RETURN a.k AS a, r.w AS w, b.k AS b ORDER BY a",
            [(1, 0.5, 2), (2, 1.5, 3)],
        ),
        (
            "UNWIND $rows AS r MATCH (n:Ut {k: r.k}) SET n.v = r.k * 10",
            [{"k": 1}, {"k": 3}, {"k": 7}],
            "MATCH (n:Ut) RETURN n.k AS k, n.v AS v ORDER BY k",
            [(1, 10), (2, None), (3, 30)],
        ),
        (
            "UNWIND $rows AS r MATCH (n:Ut {k: r.k}) DELETE n",
            [{"k": 2}],
            "MATCH (n:Ut) RETURN n.k AS k ORDER BY k",
            [(1,), (3,)],
        ),
    ],
    ids=["merge-set", "match-create-rel", "match-set", "match-delete"],
)
def test_unwind_rows_write_tails(session, q, rows, check, want):
    """``UNWIND $rows AS r`` starts the statement from the parameter's rows;
    any write clause and tail runs over them."""
    session.run("UNWIND [1, 2, 3] AS k CREATE (:Ut {k: k})")
    session.run(q, {"rows": rows})
    assert [tuple(x) for x in session.run(check).collect()] == want


def test_unwind_rows_hostile_string_and_null_key(session):
    """Parameter rows are data: a value that reads as Cypher is stored as
    it is, and a null MERGE key raises before anything is written."""
    hostile = "MERGE (x:Y {a: 1}) RETURN count(*) AS n"
    out = session.run(
        "UNWIND $rows AS r MERGE (n:Hs {s: r.s}) RETURN count(*) AS n",
        {"rows": [{"s": hostile}, {"s": "it's $rows"}, {"s": hostile}]},
    ).collect()
    assert out[0]["n"] == 3
    got = session.run("MATCH (n:Hs) RETURN n.s AS s ORDER BY s").collect()
    assert [r["s"] for r in got] == [hostile, "it's $rows"]
    assert session.run("MATCH (y:Y) RETURN count(*) AS n").collect()[0]["n"] == 0
    with pytest.raises(Exception, match="null property value"):
        session.run(
            "UNWIND $rows AS r MERGE (n:Hs {s: r.s})",
            {"rows": [{"s": "new"}, {"s": None}]},
        )
    assert session.run("MATCH (n:Hs) RETURN count(*) AS n").collect()[0]["n"] == 2


def test_explain_returns_physical_plan_rows(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name: 'Arne'})-[:SNIFFS]->(b:dog {name: 'Bosse'})")
    plan = s.run("EXPLAIN MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name")
    text = "\n".join(r["plan"] for r in plan.collect())
    assert "Physical Plan" in text or "Join" in text or "Project" in text
    # PROFILE is accepted as an alias surface
    assert s.run("PROFILE RETURN 1 AS one").count() > 0


def test_foreach_literal_list_writes(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("FOREACH (x IN [1, 2, 3] | CREATE (:num {v: x}))")
    assert s.run("MATCH (n:num) RETURN count(*) AS n").first()["n"] == 3
    vals = sorted(
        r["n.v"] for r in s.run("MATCH (n:num) RETURN n.v").collect()
    )
    assert vals == [1, 2, 3]
    # parameter-substituted list + string elements
    s.run("FOREACH (nm IN $names | CREATE (:person {name: nm}))", {"names": ["a", "b"]})
    assert s.run("MATCH (p:person) RETURN count(*) AS n").first()["n"] == 2


def test_count_subquery_in_return(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.run("MATCH (a:dog {name:'Armstrong'}) RETURN a")  # no-op warm read
    s.run("CREATE (c:dog {name:'Cleo'})")
    s.run("MATCH (a:dog {name:'Arne'}), (c:dog {name:'Cleo'}) CREATE (a)-[:SNIFFS]->(c)")
    out = {
        r["name"]: r["n_sniffed"]
        for r in s.run(
            "MATCH (d:dog) RETURN d.name AS name, "
            "COUNT { (d)-[:SNIFFS]->() } AS n_sniffed"
        ).collect()
    }
    # Arne sniffs two dogs, the others none — absent matches surface 0
    assert out == {"Arne": 2, "Bosse": 0, "Cleo": 0}


def test_count_subquery_with_props_and_quoted_braces(spark):
    """COUNT { (d)-[:T]->(:L {k:'v'}) } — the inner pattern may carry a
    property map, and quoted '}' inside it must not close the subquery
    (the regex is quote-aware with one brace-nesting level)."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bo}se'})")
    s.run("MATCH (a:dog {name:'Arne'}) CREATE (a)-[:SNIFFS]->(c:dog {name:'Cleo'})")
    out = {
        r["name"]: r["n"]
        for r in s.run(
            "MATCH (d:dog) RETURN d.name AS name, "
            "COUNT { (d)-[:SNIFFS]->(:dog {name:'Bo}se'}) } AS n"
        ).collect()
    }
    assert out == {"Arne": 1, "Bo}se": 0, "Cleo": 0}


def test_count_subquery_mixed_with_scalar_projection(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    rows = s.run(
        "MATCH (d:dog {name:'Arne'}) RETURN d.name AS name, "
        "COUNT { (d)-[:SNIFFS]->(:dog) } AS n ORDER BY name"
    ).collect()
    assert len(rows) == 1 and rows[0]["n"] == 1


def test_count_subquery_in_where(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.run("CREATE (c:dog {name:'Cleo'})")
    s.run("MATCH (a:dog {name:'Arne'}), (c:dog {name:'Cleo'}) CREATE (a)-[:SNIFFS]->(c)")
    rows = s.run(
        "MATCH (d:dog) WHERE COUNT { (d)-[:SNIFFS]->() } >= 2 "
        "RETURN d.name AS name"
    ).collect()
    assert [r["name"] for r in rows] == ["Arne"]
    # internal count columns must not leak into RETURN *
    star = s.run(
        "MATCH (d:dog) WHERE COUNT { (d)-[:SNIFFS]->() } = 0 RETURN *"
    )
    assert not [c for c in star.columns if c.startswith("_csq")]
    assert star.count() == 2  # Bosse and Cleo sniff nobody


def test_rel_type_alternation(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    s.run("MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) CREATE (b)-[:LICKS]->(a)")
    s.run("CREATE (c:dog {name:'Cleo'})")
    n = s.run(
        "MATCH (x:dog)-[:SNIFFS|LICKS]->(y:dog) RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert n == 2
    # alternation inside a var-length pattern: Arne -SNIFFS-> Bosse -LICKS-> Arne
    reach = s.run(
        "MATCH (a:dog {name:'Arne'})-[:SNIFFS|LICKS*1..2]->(b) "
        "RETURN DISTINCT b.name AS name ORDER BY name"
    ).collect()
    assert [r["name"] for r in reach] == ["Arne", "Bosse"]


def test_three_valued_logic_null_comparisons(spark):
    """Cypher WHERE is 3VL: NULL comparisons are neither true nor false —
    the row drops from the match but survives its negation's complement."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne', age: 4})")
    s.run("CREATE (b:dog {name:'Bosse'})")  # age missing -> NULL
    gt = s.run("MATCH (d:dog) WHERE d.age > 3 RETURN d.name AS n").collect()
    le = s.run("MATCH (d:dog) WHERE NOT d.age > 3 RETURN d.name AS n").collect()
    # Bosse (NULL age) appears in NEITHER branch — 3VL, not boolean split
    assert [r["n"] for r in gt] == ["Arne"] and [r["n"] for r in le] == []


def test_count_property_skips_nulls_vs_count_star(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne', age: 4})")
    s.run("CREATE (b:dog {name:'Bosse'})")
    r = s.run("MATCH (d:dog) RETURN count(*) AS all, count(d.age) AS aged").collect()[0]
    assert (r["all"], r["aged"]) == (2, 1)


def test_order_by_unprojected_property(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    for name, age in (("Arne", 4), ("Bosse", 2), ("Cleo", 9)):
        s.run(f"CREATE (d:dog {{name:'{name}', age: {age}}})")
    r = s.run(
        "MATCH (d:dog) RETURN d.name AS n ORDER BY d.age DESC LIMIT 2"
    ).collect()
    assert [x["n"] for x in r] == ["Cleo", "Arne"]


def test_list_quantifiers_return_and_where(session):
    session.run("CREATE (a:dog {name:'Arne'})")
    r = session.run(
        "MATCH (d:dog) RETURN "
        "all(x IN range(2, 8, 2) WHERE x % 2 = 0) AS a, "
        "any(x IN range(1, 5) WHERE x > 4) AS b, "
        "none(x IN range(1, 5) WHERE x > 9) AS c, "
        "single(x IN range(1, 5) WHERE x = 3) AS d, "
        "single(x IN range(1, 5) WHERE x > 3) AS e"
    ).collect()
    row = r[0]
    assert (row["a"], row["b"], row["c"], row["d"], row["e"]) == (
        True, True, True, True, False,
    )
    # WHERE position: quantifier over a property-derived list
    session.run("CREATE (b:dog {name:'Bo'})")
    r = session.run(
        "MATCH (d:dog) WHERE all(w IN split(d.name, 'r') WHERE size(w) >= 2) "
        "RETURN d.name AS n ORDER BY n"
    ).collect()
    assert [x["n"] for x in r] == ["Bo"]


def test_pattern_comprehension_return_position(session):
    session.run("CREATE (a:dog {name:'Arne'})")
    session.run("CREATE (b:dog {name:'Bosse'})")
    session.run("CREATE (c:cat {name:'Misse'})")
    session.run(
        "MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) CREATE (a)-[:KNOWS]->(b)"
    )
    session.run(
        "MATCH (a:dog {name:'Arne'}), (c:cat {name:'Misse'}) CREATE (a)-[:KNOWS]->(c)"
    )
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n, "
        "[(d)-[:KNOWS]->(x) | x.name] AS friends ORDER BY n"
    ).collect()
    assert [(row["n"], row["friends"]) for row in r] == [
        ("Arne", ["Bosse", "Misse"]),  # sorted — the engine's pinned order
        ("Bosse", []),  # matchless anchor → empty list, not NULL
    ]
    # WHERE inside the comprehension + size() around the rewritten column
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n, "
        "size([(d)-[:KNOWS]->(x) WHERE x.name STARTS WITH 'M' | x.name]) AS cats "
        "ORDER BY n"
    ).collect()
    assert [(row["n"], row["cats"]) for row in r] == [("Arne", 1), ("Bosse", 0)]


def test_pattern_comprehension_quote_robust(session):
    """String literals containing '[(' / ']' / '|' in RETURN position
    must not trigger or derail the pattern-comprehension scan (r6
    ADVICE: the depth scan now skips quoted spans like _split_top)."""
    session.run("CREATE (a:dog {name:'Arne'})-[:KNOWS]->(b:dog {name:'Bosse'})")
    r = session.run(
        "MATCH (d:dog {name:'Arne'}) RETURN '[(x' AS lit, "
        "[(d)-[:KNOWS]->(x) | x.name] AS friends"
    ).collect()
    assert [(row["lit"], row["friends"]) for row in r] == [("[(x", ["Bosse"])]
    # a literal with brackets but no real comprehension parses as plain text
    r = session.run(
        "MATCH (d:dog {name:'Arne'}) RETURN 'a[(b]|c)d' AS lit, d.name AS n"
    ).collect()
    assert [(row["lit"], row["n"]) for row in r] == [("a[(b]|c)d", "Arne")]


def test_exists_subquery_with_inner_where(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("CREATE (c:dog {name:'Cora'})-[:SNIFFS]->(d:dog {name:'Abbe'})")
    r = session.run(
        "MATCH (x:dog) WHERE EXISTS { (x)-[:SNIFFS]->(y:dog) WHERE y.name STARTS WITH 'B' } "
        "RETURN x.name AS n ORDER BY n"
    ).collect()
    assert [row["n"] for row in r] == ["Arne"]
    r = session.run(
        "MATCH (x:dog) WHERE NOT EXISTS { (x)-[:SNIFFS]->(y:dog) WHERE y.name STARTS WITH 'B' } "
        "RETURN x.name AS n ORDER BY n"
    ).collect()
    assert [row["n"] for row in r] == ["Abbe", "Bosse", "Cora"]


def test_call_subquery_in_transactions(session):
    session.run("CREATE (a:dog {name:'Arne'})")
    session.run("CREATE (b:dog {name:'Bosse'})")
    r = session.run(
        "CALL { MATCH (d:dog) RETURN d.name AS n } IN TRANSACTIONS OF 1 ROWS "
        "RETURN count(*) AS total"
    ).collect()
    assert r[0]["total"] == 2


def test_map_projection_and_keys(session):
    session.run("CREATE (a:dog {name:'Arne', age: 4, owner:'kim'})")
    session.run("CREATE (b:dog {name:'Bosse', age: 2})")
    r = session.run(
        "MATCH (d:dog) RETURN d {.name, years: d.age * 2} AS m ORDER BY d.name"
    ).collect()
    assert [(x["m"]["name"], x["m"]["years"]) for x in r] == [("Arne", 8), ("Bosse", 4)]
    r = session.run("MATCH (d:dog) RETURN d {.*} AS m ORDER BY d.name").collect()
    assert r[0]["m"].asDict() == {"age": 4, "name": "Arne", "owner": "kim"}
    # keys(): present (non-null) property names, sorted
    r = session.run("MATCH (d:dog) RETURN keys(d) AS ks ORDER BY d.name").collect()
    assert [x["ks"] for x in r] == [["age", "name", "owner"], ["age", "name"]]


def test_set_plus_equals_map_merge(session):
    session.run("CREATE (a:dog {name:'Arne', age: 4})")
    session.run("MATCH (d:dog {name:'Arne'}) SET d += {age: 5, color: 'brown'}")
    r = session.run(
        "MATCH (d:dog {name:'Arne'}) RETURN d.age AS a, d.color AS c, d.name AS n"
    ).collect()
    assert (r[0]["a"], r[0]["c"], r[0]["n"]) == (5, "brown", "Arne")


def test_general_path_binding(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("MATCH (b:dog {name:'Bosse'}) CREATE (b)-[:SNIFFS]->(c:dog {name:'Cora'})")
    r = session.run(
        "MATCH p = (a:dog {name:'Arne'})-[:SNIFFS*1..3]->(x:dog) "
        "RETURN length(p) AS l, x.name AS n ORDER BY l"
    ).collect()
    assert [(x["l"], x["n"]) for x in r] == [(1, "Bosse"), (2, "Cora")]
    # nodes(p) binds the node-id array; single-hop fixed pattern = length 1
    r = session.run(
        "MATCH p = (a:dog {name:'Arne'})-[:SNIFFS]->(x:dog) "
        "RETURN size(nodes(p)) AS k"
    ).collect()
    assert [x["k"] for x in r] == [2]
    # WHERE between pattern and RETURN filters on path accessors
    r = session.run(
        "MATCH p = (a:dog)-[:SNIFFS*1..3]->(x:dog) WHERE length(p) = 2 "
        "RETURN a.name AS s, x.name AS e"
    ).collect()
    assert [(x["s"], x["e"]) for x in r] == [("Arne", "Cora")]


def test_path_relationships_accessor(session):
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("MATCH (b:dog {name:'Bosse'}) CREATE (b)-[:SNIFFS]->(c:dog {name:'Cora'})")
    r = session.run(
        "MATCH p = (a:dog {name:'Arne'})-[:SNIFFS*2..2]->(x:dog) "
        "RETURN relationships(p) AS rs"
    ).collect()
    assert len(r) == 1 and len(r[0]["rs"]) == 2
    # r11: relationships(p) yields rel ENTITY structs (id/type/start/end)
    hops = r[0]["rs"]
    assert all(hop["type"] == "SNIFFS" for hop in hops)
    assert hops[0]["end"] == hops[1]["start"]  # consecutive traversal


def test_relationship_property_maps(spark):
    """``[r:T {k: v}]`` in CREATE stores the property; in MATCH it
    filters on the rel frame (pushed into the type-pruned scan), and
    quoted structural characters inside values parse (r7: _REL_RE grew
    the same quote-aware props block as _NODE_RE)."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS {strength: 3}]->(b:dog {name:'Bosse'})")
    s.run(
        "MATCH (a:dog {name:'Bosse'}), (b:dog {name:'Arne'}) "
        "CREATE (a)-[:SNIFFS {strength: 7}]->(b)"
    )
    r = s.run(
        "MATCH (a:dog)-[r:SNIFFS {strength: 3}]->(b:dog) RETURN a.name AS an"
    ).collect()
    assert [x["an"] for x in r] == ["Arne"]
    r = s.run(
        "MATCH (a:dog)-[r:SNIFFS]->(b) WHERE r.strength = 7 RETURN a.name AS an"
    ).collect()
    assert [x["an"] for x in r] == ["Bosse"]
    # unknown rel property matches nothing (never errors)
    assert s.run("MATCH (a)-[r:SNIFFS {ghost: 1}]->(b) RETURN a.name AS an").count() == 0
    # quoted '}' ',' inside a rel property value
    s.run(
        "MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) "
        "CREATE (a)-[:TAGGED {label: 'x}y,z'}]->(b)"
    )
    r = s.run("MATCH (a)-[r:TAGGED {label: 'x}y,z'}]->(b) RETURN b.name AS bn").collect()
    assert [x["bn"] for x in r] == ["Bosse"]


def test_list_subscript_and_slice(spark):
    """Postfix subscription: 0-based index, negative from-end, map key,
    end-exclusive slices with open bounds, comprehension + postfix."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    cases = [
        ("RETURN [1,2,3,4,5][1..3] AS v", [2, 3]),
        ("RETURN [1,2,3,4,5][2..] AS v", [3, 4, 5]),
        ("RETURN [1,2,3,4,5][..2] AS v", [1, 2]),
        ("RETURN [1,2,3][0] AS v", 1),
        ("RETURN [1,2,3][-1] AS v", 3),
        ("RETURN {a: 7}['a'] AS v", 7),
        ("RETURN [1,2,3] AS v", [1, 2, 3]),
        ("RETURN [x IN [1,2,3] | x*2][1] AS v", 4),
    ]
    for q, exp in cases:
        got = s.run(q).collect()[0][0]
        got = list(got) if isinstance(got, (list, tuple)) else got
        assert got == exp, (q, got)
    s.run("CREATE (:SL {tags: ['x', 'y', 'z']})")
    r = s.run("MATCH (n:SL) RETURN n.tags[1] AS t, n.tags[0..2] AS h").collect()[0]
    assert r.t == "y" and list(r.h) == ["x", "y"]
    # negative slice bounds count from the end (r12 — was a loud error)
    neg = s.run(
        "RETURN [1,2,3,4][-2..] AS a, [1,2,3,4][..-1] AS b, "
        "[1,2,3,4][-3..-1] AS c, [1,2,3,4][-9..] AS clamped"
    ).collect()[0]
    assert list(neg.a) == [3, 4]
    assert list(neg.b) == [1, 2, 3]
    assert list(neg.c) == [2, 3]
    assert list(neg.clamped) == [1, 2, 3, 4]


def test_collect_subquery(session):
    """Cypher 5 COLLECT { … RETURN … } in RETURN position: sorted
    per-anchor arrays, [] for anchors with no matches, WHERE + function
    calls inside, and nesting inside size() (r9)."""
    session.run("CREATE (a:dog {name:'Arne'})-[:SNIFFS]->(b:dog {name:'Bosse'})")
    session.run("MATCH (a:dog {name:'Arne'}) CREATE (a)-[:SNIFFS]->(:dog {name:'Cleo'})")
    r = session.run(
        "MATCH (d:dog) RETURN d.name AS n, "
        "COLLECT { MATCH (d)-[:SNIFFS]->(x:dog) RETURN toUpper(x.name) } AS s "
        "ORDER BY n"
    ).collect()
    assert [(row.n, row.s) for row in r] == [
        ("Arne", ["BOSSE", "CLEO"]),
        ("Bosse", []),
        ("Cleo", []),
    ]
    r2 = session.run(
        "MATCH (d:dog) RETURN d.name AS n, "
        "size(COLLECT { MATCH (d)-[:SNIFFS]->(x:dog) "
        "WHERE x.name STARTS WITH 'B' RETURN x.name }) AS nb ORDER BY n"
    ).collect()
    assert [(row.n, row.nb) for row in r2] == [("Arne", 1), ("Bosse", 0), ("Cleo", 0)]
    import pytest as _pytest

    with _pytest.raises(ValueError, match="inner RETURN"):
        session.run("MATCH (d:dog) RETURN COLLECT { MATCH (d)--(x) } AS s")


def test_order_by_expressions(session):
    """ORDER BY accepts full expressions (CASE, arithmetic) — r9, on the
    unified compiler; names still route through the frame resolver."""
    for nm, v in (("a", 3), ("b", 1), ("c", 2)):
        session.run(f"CREATE (:thing {{name: '{nm}', v: {v}}})")
    r = session.run(
        "MATCH (t:thing) RETURN t.name AS n ORDER BY t.v * -1"
    ).collect()
    assert [row.n for row in r] == ["a", "c", "b"]
    r2 = session.run(
        "MATCH (t:thing) RETURN t.name AS n "
        "ORDER BY CASE WHEN t.v = 2 THEN 0 ELSE t.v END DESC, n"
    ).collect()
    assert [row.n for row in r2] == ["a", "b", "c"]


def test_set_with_expressions(session):
    """SET values are full expressions over the binding (r9): arithmetic
    on the node's own properties, CASE, function calls — evaluated
    per-matched-node (not a broadcast constant) through one joined
    column update."""
    for nm, v in (("a", 3), ("b", 10)):
        session.run(f"CREATE (:acct {{name: '{nm}', bal: {v}}})")
    session.run(
        "MATCH (x:acct) SET x.dbl = x.bal * 2, "
        "x.tier = CASE WHEN x.bal >= 10 THEN 'hi' ELSE 'lo' END, "
        "x.tag = toUpper(x.name)"
    )
    r = session.run(
        "MATCH (x:acct) RETURN x.name AS n, x.dbl AS d, x.tier AS t, x.tag AS g ORDER BY n"
    ).collect()
    assert [(row.n, row.d, row.t, row.g) for row in r] == [
        ("a", 6, "lo", "A"),
        ("b", 20, "hi", "B"),
    ]
    # literal SET still works through the same path; WHERE-scoped update
    session.run("MATCH (x:acct) WHERE x.bal > 5 SET x.bal = x.bal + 1")
    r2 = session.run("MATCH (x:acct) RETURN x.name AS n, x.bal AS b ORDER BY n").collect()
    assert [(row.n, row.b) for row in r2] == [("a", 3), ("b", 11)]


def test_set_remove_labels(session):
    """SET n:Label / REMOVE n:Label (r9): one conditional labels-array
    update over the matched ids; multi-label SET; membership visible to
    subsequent label scans."""
    session.run("CREATE (:dog {name:'Arne'})")
    session.run("CREATE (:dog {name:'Bosse'})")
    session.run("MATCH (d:dog) SET d:pup:mammal")
    assert session.run("MATCH (p:pup) RETURN count(*) AS n").first()["n"] == 2
    assert session.run("MATCH (m:mammal) RETURN count(*) AS n").first()["n"] == 2
    session.run("MATCH (d:dog {name:'Arne'}) REMOVE d:pup")
    rest = session.run("MATCH (p:pup) RETURN p.name AS n").collect()
    assert [r.n for r in rest] == ["Bosse"]
    # idempotent re-add: labels array must not grow duplicates
    session.run("MATCH (d:dog {name:'Bosse'}) SET d:pup")
    labs = session.run(
        "MATCH (d:dog {name:'Bosse'}) RETURN labels(d) AS l"
    ).first()["l"]
    assert sorted(labs) == ["dog", "mammal", "pup"]


def test_standalone_with_pipeline(session):
    r = session.run("WITH 3 AS x RETURN x * x AS sq").first()
    assert r["sq"] == 9
    r = session.run("WITH [1,2,3] AS l UNWIND l AS x RETURN sum(x) AS s").first()
    assert r["s"] == 6
    r = session.run("WITH 10 AS x WITH x * 2 AS y WHERE y > 5 RETURN y").first()
    assert r["y"] == 20
    r = session.run(
        "WITH 'ab' AS s WITH s + 'c' AS t RETURN toUpper(t) AS u"
    ).first()
    assert r["u"] == "ABC"


def test_bare_return_order_skip_limit(session):
    rows = session.run(
        "RETURN 5 AS a, 6 AS b ORDER BY a + b"
    ).collect()
    assert [tuple(r) for r in rows] == [(5, 6)]
    rows = session.run("UNWIND [3, 1, 2] AS x RETURN x ORDER BY x SKIP 1 LIMIT 1").collect()
    assert [r["x"] for r in rows] == [2]


def test_merge_return_alias_and_yield_star(session):
    r = session.run(
        "MERGE (x:city {name: 'Oslo'}) ON CREATE SET x.new = true "
        "RETURN x.name AS n"
    ).first()
    assert r["n"] == "Oslo"
    out = session.run("CALL dbms.components() YIELD *")
    assert set(out.columns) >= {"name", "versions", "edition"}


def test_exists_property_label_predicate_leading_optional(session):
    """r9 predicate fills: legacy exists(n.prop), label predicates
    n:Label in WHERE, and a leading OPTIONAL MATCH degrading to one
    all-null row on a fully-empty result."""
    session.run("CREATE (:dog {name:'Arne', age: 3})")
    session.run("CREATE (:dog {name:'NoAge'})")
    r = session.run("MATCH (a:dog) WHERE exists(a.age) RETURN a.name AS n").collect()
    assert [x.n for x in r] == ["Arne"]
    r = session.run("MATCH (a:dog) WHERE NOT exists(a.age) RETURN a.name AS n").collect()
    assert [x.n for x in r] == ["NoAge"]
    assert session.run("MATCH (n) WHERE n:dog RETURN count(*) AS c").first()["c"] == 2
    r = session.run("MATCH (n) WHERE n:dog AND n.age > 1 RETURN n.name AS nm").collect()
    assert [x.nm for x in r] == ["Arne"]
    r = session.run("OPTIONAL MATCH (z:nothing) RETURN z.name AS zn").collect()
    assert [x.zn for x in r] == [None]
    r = session.run("OPTIONAL MATCH (d:dog {name:'Arne'}) RETURN d.age AS a").collect()
    assert [x.a for x in r] == [3]


def test_aggregates_nested_in_expressions(session):
    """r9: aggregates lift out of surrounding expressions — each inner
    agg becomes a temp-aliased aggregate, the outer expression compiles
    post-aggregation. Also pins the span-geometry fix: `max(x) - min(x)`
    is two calls, not one greedy-regex call."""
    session.run("CREATE (:dog {name:'Arne', age: 3})")
    session.run("CREATE (:dog {name:'Bosse', age: 5})")
    r = session.run(
        "MATCH (a:dog) RETURN head(collect(a.name)) AS f, "
        "size(collect(a.name)) AS n, count(*) + 1 AS n1, "
        "sum(a.age) * 2 AS d, max(a.age) - min(a.age) AS spread"
    ).first()
    assert (r["f"], r["n"], r["n1"], r["d"], r["spread"]) == ("Arne", 2, 3, 16, 2)
    r = session.run("MATCH (a:dog) RETURN collect(a.name)[0] AS first").first()
    assert r["first"] == "Arne"
    # grouped: per-name collected neighbors sized inside the expression
    session.run(
        "MATCH (a:dog {name:'Arne'}), (b:dog {name:'Bosse'}) "
        "CREATE (a)-[:SNIFFS]->(b)"
    )
    rows = session.run(
        "MATCH (a:dog)-[:SNIFFS]->(b) RETURN a.name AS n, "
        "size(collect(b.name)) AS k"
    ).collect()
    assert [(x.n, x.k) for x in rows] == [("Arne", 1)]
    # WITH-stage lifting feeds later stages
    r = session.run(
        "MATCH (a:dog) WITH size(collect(a.name)) AS n RETURN n + 10 AS m"
    ).first()
    assert r["m"] == 12


def test_create_merge_return_entities_and_self_rels(session):
    """r10 write-tail projection: CREATE/MERGE RETURN flows through the
    shared projection funnel (bare vars serialize entities, statically-
    known rel type/props resolve); repeated pattern variables bind ONE
    node ((a)-[:X]->(a)), and the repeated-var match closes the cycle."""
    p = session.run("CREATE (p:Person {name: 'Neo'}) RETURN p").collect()[0]["p"]
    assert p["labels"] == ["Person"] and p["properties"]["name"] == "Neo"
    row = session.run(
        "CREATE (x:X {k:1})-[q:LINK {w: 3}]->(y:Y {k:2}) "
        "RETURN x.k AS xk, type(q) AS t, q.w AS w, y"
    ).collect()[0]
    assert (row["xk"], row["t"], row["w"]) == (1, "LINK", 3)
    assert row["y"]["properties"]["k"] == 2  # typed + decoded (r14)
    session.run("CREATE (:A {name:'x'})")
    t = session.run(
        "MERGE (a:A {name:'x'})-[r:SELF]->(a) RETURN type(r) AS t"
    ).collect()[0]["t"]
    assert t == "SELF"
    # idempotent, and the self-loop is matchable with the repeated var
    session.run("MERGE (a:A {name:'x'})-[r:SELF]->(a)")
    loops = session.run("MATCH (a:A)-[r:SELF]->(a) RETURN count(*) AS c")
    assert loops.collect()[0]["c"] == 1


def test_unwind_literal_map_list(session):
    """UNWIND over a literal list of maps (driver batch idiom) — the
    compiler handles nested maps; row.a is key access (r10)."""
    rows = session.run(
        "UNWIND [{a: 1, b: 'p'}, {a: 2, b: 'q'}] AS row "
        "RETURN row.a AS a, row.b AS b ORDER BY a"
    ).collect()
    assert [(r.a, r.b) for r in rows] == [("1", "p"), ("2", "q")] or [
        (r.a, r.b) for r in rows
    ] == [(1, "p"), (2, "q")]


def test_expression_valued_properties(session):
    """Non-literal property values in write patterns (r10):
    {ts: datetime(…)} / {name: toUpper(…)} evaluate once through the
    unified compiler; ON CREATE SET and SET += accept them too."""
    import datetime as _dt

    session.run(
        "CREATE (:E {name: toUpper('x'), d: date('2024-06-01'), n: 2 * 3})"
    )
    r = session.run("MATCH (e:E) RETURN e.name AS nm, e.d AS d, e.n AS n").collect()[0]
    assert (r["nm"], r["d"], r["n"]) == ("X", _dt.date(2024, 6, 1), 6)
    c = session.run(
        "MERGE (k:K {key: 'a'}) ON CREATE SET k.created = timestamp() "
        "RETURN k.created AS c"
    ).collect()[0]["c"]
    assert isinstance(c, int) and c > 1_500_000_000_000
    s2 = session.run(
        "MATCH (e:E) SET e += {seen: timestamp()} RETURN e.seen AS s"
    ).collect()[0]["s"]
    assert isinstance(s2, int) and s2 >= c - 10_000


def test_temporal_map_constructors(session):
    """date/datetime/localdatetime unit-map constructors and the
    string-serialized time()/localtime() (r10); *OrNull casts."""
    import datetime as _dt

    r = session.run(
        "RETURN date({year: 2024, month: 2, day: 29}) AS d, "
        "datetime({year: 2024, month: 1, day: 2, hour: 3, minute: 4, "
        "second: 5}) AS dt, time({hour: 10, minute: 30}) AS t, "
        "time('10:30:45') AS t2, toStringOrNull(4) AS s, "
        "toIntegerOrNull('x') AS bad, isEmpty([]) AS e"
    ).collect()[0]
    assert r["d"] == _dt.date(2024, 2, 29)
    assert r["dt"] == _dt.datetime(2024, 1, 2, 3, 4, 5)
    assert (r["t"], r["t2"]) == ("10:30:00", "10:30:45")
    assert (r["s"], r["bad"], r["e"]) == ("4", None, True)
    at = session.run(
        "CREATE (:Ev {at: datetime({year: 2024, month: 3, day: 1, hour: 12})}) "
        "RETURN 1 AS one"
    )
    at.collect()
    got = session.run("MATCH (e:Ev) RETURN e.at AS at").collect()[0]["at"]
    assert got == _dt.datetime(2024, 3, 1, 12, 0)


def test_label_mutation_read_your_writes_and_unwind_with(session):
    """RETURN after SET/REMOVE label mutations reflects the mutation in
    the same statement (labels mirrored like property updates — r10);
    UNWIND … WITH … pipelines run through the same clause tail as a MATCH
    pipeline, over one unit row."""
    session.run("CREATE (:L1 {name:'x'})")
    ls = session.run(
        "MATCH (a:L1) REMOVE a:L1 RETURN labels(a) AS ls"
    ).collect()[0]["ls"]
    assert ls == []
    ls2 = session.run(
        "MATCH (a) WHERE a.name = 'x' SET a:L2 RETURN labels(a) AS ls"
    ).collect()[0]["ls"]
    assert ls2 == ["L2"]
    srow = session.run(
        "UNWIND range(1,3) AS x WITH x WHERE x > 1 RETURN sum(x) AS s"
    ).collect()[0]
    assert srow["s"] == 5
    zs = session.run(
        "UNWIND [1,2,3] AS x WITH x * 2 AS y UNWIND [y, y+1] AS z "
        "RETURN collect(z) AS zs"
    ).collect()[0]["zs"]
    assert zs == [2, 3, 4, 5, 6, 7]


def test_varlength_rel_var_size_and_order_by_aggregate(session):
    """size(rs) over a named var-length rel resolves to the hop count;
    ORDER BY count(*) maps the aggregate item text to its alias (r10)."""
    session.run("CREATE (:VP {name:'a'})")
    session.run("CREATE (:VP {name:'b'})")
    session.run("CREATE (:VP {name:'c'})")
    session.run("MATCH (x:VP {name:'a'}), (y:VP {name:'b'}) CREATE (x)-[:VK]->(y)")
    session.run("MATCH (x:VP {name:'b'}), (y:VP {name:'c'}) CREATE (x)-[:VK]->(y)")
    rows = session.run(
        "MATCH (a:VP {name:'a'})-[rs:VK*1..2]->(b) "
        "RETURN b.name AS bn, size(rs) AS n ORDER BY bn"
    ).collect()
    assert [(r.bn, r.n) for r in rows] == [("b", 1), ("c", 2)]
    agg = session.run(
        "MATCH (p:VP) RETURN p.name AS nm, count(*) AS c "
        "ORDER BY count(*) DESC, nm LIMIT 2"
    ).collect()
    assert [r.nm for r in agg] == ["a", "b"]


def test_duration_values_collect(session):
    """r11: durations are first-class client values — day/time durations
    collect as timedelta, month-only as ISO-8601 text, mixed as readable
    interval text; arithmetic stays JVM-typed."""
    import datetime

    r = session.run("RETURN duration({days: 2}) AS d").collect()[0]
    assert r.d == datetime.timedelta(days=2)
    r = session.run("RETURN duration('P1DT2H30M') AS d").collect()[0]
    assert r.d == datetime.timedelta(days=1, hours=2, minutes=30)
    r = session.run("RETURN duration('P1Y2M') AS d").collect()[0]
    assert r.d == "P1Y2M"
    r = session.run(
        "RETURN duration.between(datetime('2024-01-01 00:00:00'), "
        "datetime('2024-01-03 06:30:00')) AS d"
    ).collect()[0]
    assert r.d == datetime.timedelta(days=2, hours=6, minutes=30)
    # date + day-only duration stays a DATE
    r = session.run(
        "RETURN toString(date('1995-03-15') + duration('P30D')) AS d"
    ).collect()[0]
    assert r.d == "1995-04-14"


def test_point_map_form_and_safe_errors(session):
    r = session.run("RETURN point({x: 3.0, y: 4.0}) AS p").collect()[0]
    assert (r.p.x, r.p.y) == (3.0, 4.0)
    r = session.run(
        "RETURN point({longitude: 1.5, latitude: 2.5}) AS p"
    ).collect()[0]
    assert (r.p.x, r.p.y) == (1.5, 2.5)
    r = session.run(
        "RETURN point.withinBBox(point({x: 1, y: 1}), point({x: 0, y: 0}), "
        "point({x: 2, y: 2})) AS i"
    ).collect()[0]
    assert r.i is True
    # façade-safe errors: raw Python TypeError must not leak (r11)
    with pytest.raises(ValueError):
        session.run("RETURN point(1) AS p")
    with pytest.raises(ValueError, match="longitude"):
        session.run("RETURN point({a: 1}) AS p")


def test_duration_component_accessors(session):
    """r11: d.days / d.hours / d.minutes extract interval components."""
    r = session.run(
        "WITH duration('P2DT3H30M') AS d "
        "RETURN d.days AS dd, d.hours AS hh, d.minutes AS mm"
    ).collect()[0]
    assert (r.dd, r.hh, r.mm) == (2, 3, 30)
    r = session.run(
        "WITH duration.between(datetime('2024-01-01 00:00:00'), "
        "datetime('2024-01-04 05:00:00')) AS d RETURN d.days AS dd"
    ).collect()[0]
    assert r.dd == 3


def test_tostring_duration_iso(session):
    """r11: toString over a duration renders ISO-8601, not Spark's
    INTERVAL literal."""
    rows = session.run(
        "RETURN toString(duration('P2DT3H')) AS a, "
        "toString(duration('P45M')) AS b, "
        "toString(duration('PT0S')) AS c, "
        "toString(duration({days: 1, seconds: 90})) AS d"
    ).collect()[0]
    assert (rows.a, rows.b, rows.c, rows.d) == ("P2DT3H", "P3Y9M", "PT0S", "P1DT1M30S")


def test_exists_property_in_value_position(session):
    """r11: legacy exists(n.prop) evaluates in RETURN position, not just
    WHERE (IS NOT NULL semantics)."""
    session.run("CREATE (:ExDog {name:'A', age: 4})")
    r = session.run(
        "MATCH (a:ExDog) RETURN exists(a.age) AS e1, exists(a.zz) AS e2"
    ).collect()[0]
    assert (r.e1, r.e2) == (True, False)


def test_expression_only_call_subquery(session):
    """r11: CALL { WITH n RETURN <exprs> } with no inner MATCH is a pure
    per-row projection over the imports."""
    session.run("CREATE (:EQ {name:'a', v: 1})")
    session.run("CREATE (:EQ {name:'b', v: 2})")
    rows = session.run(
        "MATCH (n:EQ) CALL { WITH n RETURN n.v * 2 AS dbl } "
        "RETURN n.name AS name, dbl ORDER BY name"
    ).collect()
    assert [tuple(r) for r in rows] == [("a", 2), ("b", 4)]


def test_consecutive_match_clauses(session):
    """r11: MATCH p1 MATCH p2 with no WITH between — later clauses join
    on shared variables (cartesian when disconnected, the Cypher rule)."""
    session.run("CREATE (:CM1 {name:'a'})")
    session.run("CREATE (:CM2 {name:'b'})")
    rows = session.run(
        "MATCH (a:CM1) MATCH (b:CM2) RETURN a.name + b.name AS cat"
    ).collect()
    assert [r.cat for r in rows] == ["ab"]
    rows = session.run(
        "MATCH (a:CM1) MATCH (b:CM2) WHERE b.name = 'b' "
        "RETURN a.name AS an, b.name AS bn"
    ).collect()
    assert [tuple(r) for r in rows] == [("a", "b")]


def test_unwind_literal_write_tails(session):
    """r11: UNWIND over a literal list with a terminal write clause —
    routed through the shared set-based write tails."""
    session.run("UNWIND ['x', 'y'] AS w CREATE (:UW {t: w})")
    got = session.run("MATCH (w:UW) RETURN w.t AS t ORDER BY t").collect()
    assert [r.t for r in got] == ["x", "y"]
    for _ in range(2):
        session.run(
            "UNWIND [{n: 'a', v: 1}, {n: 'b', v: 2}] AS r "
            "MERGE (:UKV {k: r.n, v: r.v})"
        )
    assert session.run("MATCH (x:UKV) RETURN count(*) AS c").collect()[0].c == 2


def test_fixed_multihop_path_binding(session):
    """r11: MATCH p = (a)-[:X]->(b)-[:Y]->(c) — fixed-length chains bind
    as plain equi-joins with entity path columns (no BSP enumeration)."""
    session.run("CREATE (a:FHP {name:'a'})-[:X]->(b:FHP {name:'b'})")
    session.run("MATCH (b:FHP {name:'b'}) CREATE (b)-[:Y]->(c:FHP {name:'c'})")
    r = session.run(
        "MATCH p = (a:FHP {name:'a'})-[:X]->(b:FHP)-[:Y]->(c:FHP) "
        "RETURN [n IN nodes(p) | n.name] AS names, "
        "[x IN relationships(p) | type(x)] AS ts, length(p) AS len"
    ).collect()[0]
    assert (r.names, r.ts, r.len) == (["a", "b", "c"], ["X", "Y"], 2)
    p = session.run(
        "MATCH p = (a:FHP {name:'a'})-[:X]->(b)-[:Y]->(c) RETURN p"
    ).collect()[0].p
    assert [e.type for e in p] == [None, "X", None, "Y", None]


def test_show_indexes_constraints_yield_tails(session):
    """r11: SHOW INDEXES / SHOW CONSTRAINTS accept YIELD/WHERE/RETURN
    tails through the shared SHOW machinery (were silently ignored)."""
    session.run("CREATE (:SIY {a: 1})")
    session.run("CREATE INDEX siy_idx FOR (n:SIY) ON (n.a)")
    try:
        n = session.run(
            "SHOW INDEXES YIELD name WHERE name = 'siy_idx' RETURN count(*) AS c"
        ).collect()[0].c
        assert n == 1
    finally:
        session.run("DROP INDEX siy_idx")


def test_list_concatenation_plus(session):
    """r11: Cypher list `+` — concatenation, with scalar sides lifted."""
    r = session.run(
        "RETURN [1,2] + [3] AS m, [1] + 2 AS ap, 0 + [9] AS pre, 1 + 2 AS n"
    ).collect()[0]
    assert (r.m, r.ap, r.pre, r.n) == ([1, 2, 3], [1, 2], [0, 9], 3)
    session.run("CREATE (:LCP {xs: [1, 2]})")
    got = session.run("MATCH (n:LCP) RETURN n.xs + 3 AS a").collect()[0].a
    assert got == [1, 2, 3]


def test_missing_property_is_null_everywhere(spark):
    """r12 (VERDICT r11 task 3; SURVEY §7.2): a property no write has
    introduced resolves to null in WHERE position — never an
    AnalysisException — matching the RETURN-position behavior."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:Mp {name: 'a', v: 1})")
    s.run("CREATE (:Mp {name: 'b'})")
    rows = s.run(
        "MATCH (n:Mp) WHERE n.never_written IS NULL "
        "RETURN n.name AS name ORDER BY name"
    ).collect()
    assert [r.name for r in rows] == ["a", "b"]
    assert s.run(
        "MATCH (n:Mp) WHERE n.never_written IS NOT NULL RETURN n.name AS name"
    ).count() == 0
    # comparisons against the missing property are null → filtered
    assert s.run(
        "MATCH (n:Mp) WHERE n.never_written = 1 RETURN n.name AS name"
    ).count() == 0
    # a property only SOME nodes carry stays per-row null, not missing
    rows = s.run(
        "MATCH (n:Mp) WHERE n.v IS NULL RETURN n.name AS name"
    ).collect()
    assert [r.name for r in rows] == ["b"]
    # RETURN position agrees
    rows = s.run(
        "MATCH (n:Mp) RETURN n.name AS name, n.never_written AS miss "
        "ORDER BY name"
    ).collect()
    assert [(r.name, r.miss) for r in rows] == [("a", None), ("b", None)]


def test_postfix_accessors_on_call_expressions(spark):
    """r12 (VERDICT r11 task 4): property access directly on a call
    expression — duration({...}).hours, point({...}).x, datetime(...).year
    — no bound-alias detour required."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    r = s.run(
        "RETURN duration({days: 2, hours: 3}).hours AS h, "
        "duration({days: 2, hours: 3}).days AS d, "
        "point({x: 1.5, y: 2.5}).x AS px, "
        "point({x: 1.5, y: 2.5}).y AS py, "
        "datetime('2024-03-05T10:20:30').year AS y, "
        "datetime('2024-03-05T10:20:30').minute AS mi, "
        "date('2024-03-05').dayOfWeek AS dow, "
        "{a: 7, b: 8}.b AS mb"
    ).collect()[0]
    assert (r.h, r.d) == (3, 2)
    assert (r.px, r.py) == (1.5, 2.5)
    assert (r.y, r.mi) == (2024, 20)
    assert r.dow == 2  # 2024-03-05 is a Tuesday; ISO Monday=1
    assert r.mb == 8
    # postfix chains compose with arithmetic and comparisons
    r2 = s.run(
        "RETURN duration({hours: 3}).hours * 2 AS hh, "
        "point({x: 1.0, y: 2.0}).x < 2.0 AS lt"
    ).collect()[0]
    assert (r2.hh, r2.lt) == (6, True)


def test_foreach_over_match_binding(spark):
    """r12: FOREACH as a MATCH write tail — per-row list evaluation
    (posexplode, set-based), last element wins (sequential semantics),
    and the conditional-write idiom (empty list → no update)."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark))
    s.run("CREATE (:Fe {name: 'a', v: 1})")
    s.run("CREATE (:Fe {name: 'b', v: 5})")
    s.run("MATCH (n:Fe) FOREACH (x IN [10, 20] | SET n.mark = x)")
    rows = s.run(
        "MATCH (n:Fe) RETURN n.name AS name, n.mark AS mark ORDER BY name"
    ).collect()
    assert [(r.name, r.mark) for r in rows] == [("a", 20), ("b", 20)]
    # conditional write: list depends on the row
    s.run(
        "MATCH (n:Fe) FOREACH "
        "(i IN CASE WHEN n.v > 3 THEN [1] ELSE [] END | SET n.big = true)"
    )
    rows = s.run(
        "MATCH (n:Fe) RETURN n.name AS name, n.big AS big ORDER BY name"
    ).collect()
    assert [(r.name, r.big) for r in rows] == [("a", None), ("b", True)]
    # element referenced in the value expression
    s.run("MATCH (n:Fe {name: 'a'}) FOREACH (x IN [n.v + 1] | SET n.w = x * 10)")
    assert s.run("MATCH (n:Fe {name: 'a'}) RETURN n.w AS w").collect()[0].w == 20
    # non-SET update clauses inside a bound FOREACH are rejected loud
    import pytest as _pytest
    with _pytest.raises(ValueError, match="supports SET"):
        s.run("MATCH (n:Fe) FOREACH (x IN [1] | CREATE (:Zed))")


def test_duration_between_component_accessors(spark):
    """r12: duration.between(a, b).months/.days/… — Neo4j component
    semantics (months = whole calendar months, days = the remainder
    after those months, hours/minutes/seconds totals of the sub-day
    remainder)."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    r = s.run(
        "RETURN duration.between(date('2024-01-15'), date('2024-03-01')).months AS m, "
        "duration.between(date('2024-01-15'), date('2024-03-01')).days AS d, "
        "duration.between(date('2022-01-01'), date('2024-07-01')).years AS y, "
        "duration.between(datetime('2024-01-01T00:00:00'), "
        "datetime('2024-01-01T05:30:00')).minutes AS mi"
    ).collect()[0]
    assert (r.m, r.d, r.y, r.mi) == (1, 15, 2, 330)


def test_shortest_path_over_bound_endpoints(spark):
    """r12: MATCH (a:…), (b:…) MATCH sp = shortestPath((a)-[*..k]-(b)) —
    the consecutive-MATCH form with endpoints bound by an earlier
    clause; length(sp)/nodes(sp) resolve."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark))
    for n in "abcd":
        s.run(f"CREATE (:Sp {{name: '{n}'}})")
    for x, y in (("a", "b"), ("b", "c"), ("c", "d")):
        s.run(
            f"MATCH (x:Sp {{name: '{x}'}}), (y:Sp {{name: '{y}'}}) "
            "CREATE (x)-[:N]->(y)"
        )
    r = s.run(
        "MATCH (a:Sp {name: 'a'}), (d:Sp {name: 'd'}) "
        "MATCH sp = shortestPath((a)-[*..5]-(d)) "
        "RETURN length(sp) AS l, size(nodes(sp)) AS n"
    ).collect()[0]
    assert (r.l, r.n) == (3, 4)
    # directed form respects orientation
    r2 = s.run(
        "MATCH (d:Sp {name: 'd'}), (a:Sp {name: 'a'}) "
        "MATCH sp = shortestPath((d)-[:N*..5]->(a)) RETURN length(sp) AS l"
    ).collect()
    assert r2 == []  # no d→a directed path
    import pytest as _pytest
    with _pytest.raises(ValueError, match="endpoints bound"):
        s.run(
            "MATCH (a:Sp {name: 'a'}) "
            "MATCH sp = shortestPath((a)-[*..3]-(zz)) RETURN length(sp) AS l"
        )


def test_exists_subquery_in_return_position(spark):
    """r12: EXISTS { pattern [WHERE pred] } as a RETURN item — boolean
    per binding row (the WHERE path always supported it)."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark))
    s.run("CREATE (:Ex {name: 'a'})")
    s.run("CREATE (:Ex {name: 'b'})")
    s.run("MATCH (a:Ex {name: 'a'}), (b:Ex {name: 'b'}) CREATE (a)-[:R {w: 2}]->(b)")
    rows = s.run(
        "MATCH (n:Ex) RETURN n.name AS name, EXISTS { (n)-[:R]->() } AS out "
        "ORDER BY name"
    ).collect()
    assert [(r.name, r.out) for r in rows] == [("a", True), ("b", False)]
    rows = s.run(
        "MATCH (n:Ex) RETURN n.name AS name, "
        "EXISTS { (n)-[r:R]->() WHERE r.w > 5 } AS heavy ORDER BY name"
    ).collect()
    assert [(r.name, r.heavy) for r in rows] == [("a", False), ("b", False)]


def test_collect_subquery_order_by(spark):
    """r12: COLLECT { … RETURN x ORDER BY x } honors the ascending
    self-order (arrays are always sorted — the documented deviation);
    custom orders are rejected loud."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark))
    s.run("CREATE (:Co {name: 'hub'})")
    for n in ("z", "m", "a"):
        s.run(
            f"MATCH (h:Co {{name: 'hub'}}) CREATE (h)-[:T]->(:Co {{name: '{n}'}})"
        )
    r = s.run(
        "MATCH (h:Co {name: 'hub'}) RETURN "
        "COLLECT { MATCH (h)-[:T]->(x) RETURN x.name ORDER BY x.name } AS subs"
    ).collect()[0]
    assert r.subs == ["a", "m", "z"]
    import pytest as _pytest
    with _pytest.raises(ValueError, match="ascending order"):
        s.run(
            "MATCH (h:Co {name: 'hub'}) RETURN "
            "COLLECT { MATCH (h)-[:T]->(x) RETURN x.name ORDER BY x.name DESC } AS subs"
        )


def test_r12_function_additions(spark):
    """r12 probe-corpus gaps: case-insensitive function lookup
    (ltrim == lTrim), apoc.map.fromLists, apoc.convert.toJson /
    fromJsonMap (typed values via variant), date.truncate."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    r = s.run(
        "RETURN ltrim('  x') AS l, rtrim('y  ') AS rt, LTRIM(' z') AS lu, "
        "apoc.map.fromLists(['a','b'], [1,2]) AS m, "
        "apoc.convert.toJson({k: 1}) AS j, "
        "apoc.convert.fromJsonMap('{\"b\": 2}').b AS b, "
        "toString(date.truncate('month', date('2024-03-15'))) AS t"
    ).collect()[0]
    assert (r.l, r.rt, r.lu) == ("x", "y", "z")
    assert r.m == {"a": 1, "b": 2}
    assert r.j == '{"k":1}'
    assert str(r.b) == "2"
    assert r.t == "2024-03-01"


def test_with_star_passthrough(spark):
    """r12: WITH * carries the whole binding forward; composes with
    extra items, WHERE (HAVING position), and aggregation."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark))
    s.run("CREATE (:Ws {k: 1, v: 'a'})")
    s.run("CREATE (:Ws {k: 2, v: 'b'})")
    assert s.run("MATCH (n:Ws) WITH * RETURN count(n) AS c").collect()[0].c == 2
    rows = s.run(
        "MATCH (n:Ws) WITH *, n.k * 10 AS kk RETURN n.v AS v, kk ORDER BY kk"
    ).collect()
    assert [(r.v, r.kk) for r in rows] == [("a", 10), ("b", 20)]
    assert s.run(
        "MATCH (n:Ws) WITH * WHERE n.k > 1 RETURN n.v AS v"
    ).collect()[0].v == "b"


# One clause tail after every driving frame: stages, then a write verb or
# RETURN, the same whether a MATCH, a CALL, LOAD CSV, a write or one unit
# row (a statement opening with WITH/UNWIND/RETURN) drives them. Each shape
# below once failed or differed on one of the separate pipelines.
_CLAUSE_TAIL_SHAPES = [
    pytest.param(
        "WITH [1,2] AS l UNWIND l AS y CALL { WITH y RETURN y * 2 AS z } "
        "RETURN sum(z) AS s",
        None, [(6,)], id="with-unwind-call-subquery",
    ),
    pytest.param(
        "UNWIND [1,2] AS x WITH x CREATE (:T {v: x})",
        "MATCH (t:T) RETURN t.v AS v ORDER BY v", [(1,), (2,)],
        id="unwind-with-create",
    ),
    pytest.param(
        "UNWIND [1,2] AS x WITH x * 10 AS y MERGE (:W {v: y})",
        "MATCH (w:W) RETURN w.v AS v ORDER BY v", [(10,), (20,)],
        id="unwind-with-merge",
    ),
    pytest.param(
        "MATCH (p:P {name:'a'}) SET p.v = 10 WITH p CREATE (:X {v: p.v})",
        "MATCH (x:X) RETURN x.v AS v", [(10,)], id="set-with-create",
    ),
    pytest.param(
        "CALL db.labels() YIELD label WITH label CREATE (:L {n: label})",
        "MATCH (l:L) RETURN l.n AS n ORDER BY n", [("P",), ("Q",)],
        id="call-yield-with-create",
    ),
    pytest.param(
        "LOAD CSV WITH HEADERS FROM 'file://{csv}' AS row "
        "WITH row CREATE (:D {name: row.name})",
        "MATCH (d:D) RETURN d.name AS n ORDER BY n", [("x",), ("y",)],
        id="load-csv-with-create",
    ),
    pytest.param("RETURN DISTINCT 1 AS one", None, [(1,)], id="return-distinct"),
    pytest.param("RETURN avg(4) AS a", None, [(4.0,)], id="return-avg"),
    pytest.param("RETURN collect(null) AS c", None, [([],)], id="return-collect-null"),
]


@pytest.mark.parametrize("stmt, check, want", _CLAUSE_TAIL_SHAPES)
def test_clause_tail_shapes(session, tmp_path, stmt, check, want):
    """Each statement returns the rows (or writes what) its unit-row
    pipeline form does; ``avg`` over one row is a double, as over many."""
    csv = tmp_path / "rows.csv"
    csv.write_text("name\nx\ny\n")
    session.run("CREATE (:P {name: 'a'}), (:P {name: 'b'}), (:Q {name: 'c'})")
    out = session.run(stmt.replace("{csv}", str(csv)))
    rows = out.collect()
    if check is not None:
        assert rows == []
        out = session.run(check)
        rows = out.collect()
    assert [tuple(r) for r in rows] == want
    if "avg" in stmt:
        assert dict(out.dtypes)["a"] == "double"


def test_yield_list_ends_at_clause_keyword(session):
    """The YIELD list ends at the first clause keyword: a MATCH after it
    binds on the yielded frame (cartesian here, correlated by WHERE
    below) instead of being read as a YIELD column, and SHOW's YIELD
    continues into the same clause tail as CALL's."""
    session.run("CREATE (:P {name: 'a'}), (:P {name: 'b'}), (:Q {name: 'c'})")
    n = session.run(
        "CALL db.labels() YIELD label MATCH (p:P) RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert n == 4
    rows = session.run(
        "CALL db.labels() YIELD label WHERE label STARTS WITH 'P' "
        "OPTIONAL MATCH (n) WHERE label IN labels(n) "
        "RETURN label, count(n) AS c ORDER BY label"
    ).collect()
    assert [tuple(r) for r in rows] == [("P", 2)]
    n = session.run(
        "SHOW PROCEDURES YIELD name WITH name WHERE name STARTS WITH 'gds.wcc.' "
        "RETURN count(*) AS n"
    ).collect()[0]["n"]
    assert n == 4


def test_write_then_continue_keeps_anonymous_variables_apart(session):
    """A clause tail after a write restarts its stages; the MATCH in the
    later stage must not reuse an anonymous node name an earlier stage
    carried forward with WITH *, or the two would join as one variable
    (the count was 1: only the path through the earlier neighbour)."""
    session.run(
        "CREATE (a:An {k: 'A'}), (b:An {k: 'B'}), (c:An {k: 'C'}), "
        "(d:An {k: 'D'}), (a)-[:R]->(b), (a)-[:R]->(c), (b)-[:R]->(d)"
    )
    tail = "WITH * MATCH (a)-->()-->() RETURN count(*) AS c"
    read = session.run(f"MATCH (a:An) WITH * MATCH (a)-->() {tail}")
    written = session.run(f"MATCH (a:An) WITH * MATCH (a)-->() SET a.x = 1 {tail}")
    assert read.collect()[0]["c"] == written.collect()[0]["c"] == 2


@pytest.mark.parametrize(
    "stmt",
    [
        "MATCH (a)-[r:R]->(b) CREATE (a)-[:S]->(b) DELETE r",
        "MATCH (a)-[r:R]->(b) CREATE (a)-[:S]->(b) SET a.moved = true DELETE r",
    ],
    ids=["create-delete", "create-set-delete"],
)
def test_create_then_delete_relationship_variable(session, stmt):
    """Changing a relationship's type: the clauses after CREATE still know
    ``r`` for a relationship of the MATCH, so DELETE removes the old
    relationship and no node."""
    session.run("CREATE (:P {name: 'a'})-[:R]->(:P {name: 'b'}), (:Q {name: 'c'})")
    session.run(stmt).collect()

    def count(q):
        return session.run(q).collect()[0]["c"]

    assert count("MATCH ()-[r:R]->() RETURN count(r) AS c") == 0
    assert count("MATCH (:P {name: 'a'})-[s:S]->(:P {name: 'b'}) RETURN count(s) AS c") == 1
    assert count("MATCH (n) RETURN count(n) AS c") == 3


@pytest.mark.parametrize(
    "stmt",
    ["MATCH (n)", "MATCH (n) OPTIONAL MATCH (n)-->(m)", "WITH 1 AS x",
     "UNWIND [1] AS x", "CALL db.labels() YIELD label WITH label"],
)
def test_statement_must_conclude_with_return_or_write(session, stmt):
    """A query that ends in a reading clause is rejected, as in Cypher;
    the rest of a write may end without RETURN."""
    session.run("CREATE (:P {name: 'a'})")
    with pytest.raises(ValueError, match="cannot conclude"):
        session.run(stmt)
    assert session.run("MATCH (n:P) SET n.x = 1 WITH n").collect() == []


def test_reading_clauses_bind_in_statement_order(session):
    """MATCH, OPTIONAL MATCH and CALL after the first pattern bind in the
    order written: the MATCH after the OPTIONAL MATCH drops the row whose
    optional ``x`` is null, and sees ``x`` as the bound variable."""
    session.run(
        "CREATE (a:P {name: 'a'})-[:R]->(x:X {name: 'x1'})-[:S]->(:Y {name: 'y1'}), "
        "(:P {name: 'b'}), (:X {name: 'x2'})-[:S]->(:Y {name: 'y2'})"
    )
    rows = session.run(
        "MATCH (p:P) OPTIONAL MATCH (p)-[:R]->(x) MATCH (x)-[:S]->(y) "
        "RETURN p.name AS p, y.name AS y ORDER BY p, y"
    ).collect()
    assert [tuple(r) for r in rows] == [("a", "y1")]
