"""Write-path goldens replicating the reference's own smoke flow
(DatabaseIO.java:42-86) and the dump/load roundtrip
(TestDumpLoad.java:90-133), plus LOAD CSV (/import contract)."""

from __future__ import annotations

import tempfile

import pytest
from pyspark.sql import functions as F

from docker_neo4j_spark.cypher.session import Session
from docker_neo4j_spark.storage.store import GraphStore, load_csv


def _dog_names(store: GraphStore) -> str:
    # MATCH (a:dog)-[:SNIFFS]->(b:dog) RETURN a.name — sorted, comma-joined,
    # exactly DatabaseIO.verifyMoreDataIntoContainer's assertion shape.
    rows = store.expand("dog", "SNIFFS", "dog").select("a_name").collect()
    return ",".join(sorted(r["a_name"] for r in rows))


def test_reference_smoke_flow(spark):
    store = GraphStore(spark)

    # putInitialDataIntoContainer: CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog {name:'Bosse'})
    arne, bosse = store.create_nodes("dog", [{"name": "Arne"}, {"name": "Bosse"}])
    store.create_rels("SNIFFS", [(arne, bosse)])
    got = store.match_nodes("dog", name="Arne").select("name").first()["name"]
    assert got == "Arne"

    # verifyInitialDataInContainer
    assert _dog_names(store) == "Arne"

    # putMoreDataIntoContainer: MATCH Arne, CREATE Armstrong-[:SNIFFS]->Arne
    arne_id = store.match_nodes("dog", name="Arne").first()["id"]
    assert arne_id == arne  # read-your-writes
    (armstrong,) = store.create_nodes("dog", [{"name": "Armstrong"}])
    store.create_rels("SNIFFS", [(armstrong, arne_id)])

    # verifyMoreDataIntoContainer(extraDataShouldBeThere=True)
    assert _dog_names(store) == "Armstrong,Arne"


def test_dump_load_roundtrip(spark):
    store = GraphStore(spark)
    a, b = store.create_nodes("dog", [{"name": "Arne"}, {"name": "Bosse"}])
    store.create_rels("SNIFFS", [(a, b)])
    with tempfile.TemporaryDirectory() as tmp:
        store.dump(f"{tmp}/snap")
        again = GraphStore.load(spark, f"{tmp}/snap")
        assert _dog_names(again) == "Arne"
        # writes continue after load with non-colliding ids
        (c,) = again.create_nodes("dog", [{"name": "Caesar"}])
        assert c > max(a, b)
        again.create_rels("SNIFFS", [(c, a)])
        assert _dog_names(again) == "Arne,Caesar"


def test_dump_version_stamp_and_refusal(spark):
    """TestUpgrade.java:54-149 contract: older-format dumps load in a
    newer engine; corrupted/future dumps are refused with a message."""
    import glob
    import json

    store = GraphStore(spark)
    store.create_nodes("dog", [{"name": "Arne"}])
    with tempfile.TemporaryDirectory() as tmp:
        store.dump(f"{tmp}/snap")
        meta_files = [
            f for f in glob.glob(f"{tmp}/snap/_meta/part-*.json")
        ]
        assert meta_files, "dump must carry a _meta stamp"
        stamp = json.loads(open(meta_files[0]).read())
        assert stamp["format_version"] == GraphStore.DUMP_FORMAT_VERSION
        assert stamp["engine_version"]

        # roundtrip ok
        assert GraphStore.load(spark, f"{tmp}/snap").match_nodes("dog").count() == 1

        # legacy dump (no stamp) still loads — the upgrade path
        import shutil

        shutil.rmtree(f"{tmp}/snap/_meta")
        assert GraphStore.load(spark, f"{tmp}/snap").match_nodes("dog").count() == 1

    import os

    def _rewrite_stamp(meta_file, stamp):
        open(meta_file, "w").write(json.dumps(stamp))
        # drop Hadoop's local-FS checksum sidecar so the DOCTORED stamp is
        # readable (we're testing the version logic, not CRC detection)
        crc = os.path.join(
            os.path.dirname(meta_file), f".{os.path.basename(meta_file)}.crc"
        )
        if os.path.exists(crc):
            os.remove(crc)

    with tempfile.TemporaryDirectory() as tmp:
        store.dump(f"{tmp}/snap")
        meta_file = glob.glob(f"{tmp}/snap/_meta/part-*.json")[0]
        stamp = json.loads(open(meta_file).read())

        # stamped OLDER format version (N-1 image wrote it) → loads in
        # this engine — the TestUpgrade.java:54-73 direction
        _rewrite_stamp(
            meta_file, dict(stamp, format_version=GraphStore.DUMP_FORMAT_VERSION - 1)
        )
        assert GraphStore.load(spark, f"{tmp}/snap").match_nodes("dog").count() == 1

        # future format version → refuse with upgrade message
        _rewrite_stamp(
            meta_file, dict(stamp, format_version=GraphStore.DUMP_FORMAT_VERSION + 1)
        )
        with pytest.raises(ValueError, match="newer than this engine"):
            GraphStore.load(spark, f"{tmp}/snap")

        # doctored schema stamp → refuse as corrupt
        _rewrite_stamp(meta_file, dict(stamp, schema_hash="0000000000000000"))
        with pytest.raises(ValueError, match="corrupt"):
            GraphStore.load(spark, f"{tmp}/snap")

    with tempfile.TemporaryDirectory() as tmp:
        # bit-rot (stamp changed under an intact CRC sidecar) → unreadable
        store.dump(f"{tmp}/snap")
        meta_file = glob.glob(f"{tmp}/snap/_meta/part-*.json")[0]
        open(meta_file, "w").write("not json at all")
        with pytest.raises(ValueError, match="unreadable"):
            GraphStore.load(spark, f"{tmp}/snap")


def test_merge_set_delete(spark):
    store = GraphStore(spark)
    i1 = store.merge_node("dog", {"name": "Arne"})
    i2 = store.merge_node("dog", {"name": "Arne"})  # idempotent
    assert i1 == i2
    assert store.match_nodes("dog").count() == 1

    store.set_props("dog", {"name": "Arne"}, {"age": 7})
    assert store.match_nodes("dog", name="Arne").first()["age"] == 7

    # SET only touches matching rows
    store.create_nodes("dog", [{"name": "Bosse"}])
    store.set_props("dog", {"name": "Bosse"}, {"age": 3})
    ages = {r["name"]: r["age"] for r in store.match_nodes("dog").collect()}
    assert ages == {"Arne": 7, "Bosse": 3}

    # DETACH DELETE removes the node and its rels
    a = store.match_nodes("dog", name="Arne").first()["id"]
    b = store.match_nodes("dog", name="Bosse").first()["id"]
    store.create_rels("SNIFFS", [(a, b), (b, a)])
    store.delete_nodes("dog", name="Arne")
    assert store.match_nodes("dog").count() == 1
    assert store.graph.rels.count() == 0


def test_schema_evolution_on_write(spark):
    store = GraphStore(spark)
    store.create_nodes("dog", [{"name": "Arne"}])
    store.create_nodes("cat", [{"name": "Mjau", "lives": 9}])  # new property column
    assert store.match_nodes("dog").first()["lives"] is None
    assert store.match_nodes("cat").first()["lives"] == 9


def test_load_csv_import(spark, tmp_path):
    p = tmp_path / "dogs.csv"
    p.write_text("name,age\nArne,7\nBosse,3\nArmstrong,5\n")
    df = load_csv(spark, str(p))
    assert df.count() == 3 and set(df.columns) == {"name", "age"}

    store = GraphStore(spark)
    Session(spark, store=store).run(
        f"LOAD CSV WITH HEADERS FROM 'file://{p}' AS row "
        "CREATE (:dog {name: row.name, age: toInteger(row.age)})"
    )
    assert store.match_nodes("dog").count() == 3
    oldest = store.match_nodes("dog").orderBy(F.desc("age")).first()
    assert oldest["name"] == "Arne"
    # imported rows are real nodes: write a rel between two of them
    ids = [r["id"] for r in store.match_nodes("dog").orderBy("name").collect()]
    store.create_rels("SNIFFS", [(ids[0], ids[1])])
    assert store.expand("dog", "SNIFFS", "dog").count() == 1


def test_stage_indexed_dense_ids_no_python_rdd_hop(spark, monkeypatch):
    """The id-assignment backbone is DataFrame-only: dense 0..n-1 ids in
    partition order, and NO ``.rdd`` access anywhere (zipWithIndex would
    round-trip every row through Python serialization on the bulk-ingest
    path — the r5 verdict's one named scale-killer)."""
    from pyspark.sql import DataFrame

    def _forbid(self):  # pragma: no cover - raising is the assertion
        raise AssertionError("write path must not cross the Python RDD boundary")

    monkeypatch.setattr(DataFrame, "rdd", property(_forbid))
    store = GraphStore(spark)
    df = spark.createDataFrame(
        [(i, f"d{i}") for i in range(500)], "k long, name string"
    ).repartition(7)
    indexed, n = store.stage_indexed(df)
    assert n == 500
    rows = indexed.collect()
    assert sorted(r["_idx"] for r in rows) == list(range(500))
    assert {(r["k"], r["name"]) for r in rows} == {(i, f"d{i}") for i in range(500)}
    # stable across re-evaluation (checkpoint pins partitioning)
    again = {r["k"]: r["_idx"] for r in indexed.collect()}
    assert again == {r["k"]: r["_idx"] for r in rows}
    # empty frame: n == 0 and a well-formed (cols + _idx) empty result
    empty, n0 = store.stage_indexed(
        spark.createDataFrame([], "k long, name string")
    )
    assert n0 == 0 and empty.count() == 0 and "_idx" in empty.columns
    # the full batch-merge write path also stays JVM-side
    Session(spark, store=store).run(
        "UNWIND $rows AS r MERGE (:dog {k: r.k, name: r.name})",
        {"rows": [{"k": i, "name": f"d{i}"} for i in range(500)]},
    )
    assert store.match_nodes("dog").count() == 500


def test_batch_merge_nodes_and_rels(spark):
    """``UNWIND $rows`` MERGE of nodes and of relationships: a key repeated
    in one batch merges once, a re-run inserts nothing, and only new keys
    insert."""
    store = GraphStore(spark)
    s = Session(spark, store=store)
    merge = "UNWIND $rows AS r MERGE (d:dog {name: r.name}) ON CREATE SET d.age = r.age"
    rows = [{"name": "Arne", "age": 7}, {"name": "Bosse", "age": 3}, {"name": "Arne", "age": 7}]
    s.run(merge, {"rows": rows})
    assert store.match_nodes("dog").count() == 2  # input deduped
    s.run(merge, {"rows": rows})
    assert store.match_nodes("dog").count() == 2  # idempotent

    # new keys insert, existing keys don't
    s.run(merge, {"rows": [{"name": "Arne", "age": 8}, {"name": "Cleo", "age": 1}]})
    ages = {r["name"]: r["age"] for r in store.match_nodes("dog").collect()}
    assert ages == {"Arne": 7, "Bosse": 3, "Cleo": 1}

    rel = (
        "UNWIND $rows AS r MATCH (a:dog {name: r.a}), (b:dog {name: r.b}) "
        "MERGE (a)-[:SNIFFS]->(b)"
    )
    pairs = [
        {"a": "Arne", "b": "Bosse"}, {"a": "Arne", "b": "Bosse"}, {"a": "Bosse", "b": "Cleo"},
    ]
    s.run(rel, {"rows": pairs})
    assert store.graph.rels.count() == 2
    s.run(rel, {"rows": pairs})
    assert store.graph.rels.count() == 2
    # rel ids unique
    assert store.graph.rels.select("id").distinct().count() == 2


def test_unwind_rows_create_runs_no_spark_job(spark):
    """``UNWIND $rows AS r CREATE …`` starts from the parameter's rows, a
    LocalRelation, which ``stage_indexed`` numbers on the driver: the
    write runs no Spark job."""
    from docker_neo4j_spark.localframe import local_df

    store = GraphStore(spark)
    s = Session(spark, store=store)
    sc = spark.sparkContext
    sc.setJobGroup("test-unwind-rows-create", "")
    try:
        s.run(
            "UNWIND $rows AS r CREATE (:E {k: r.k})",
            {"rows": [{"k": i} for i in range(25)]},
        )
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert len(sc.statusTracker().getJobIdsForGroup("test-unwind-rows-create")) == 0
    assert sorted(r["k"] for r in store.match_nodes("E").collect()) == list(range(25))
    assert store.match_nodes("E").select("id").distinct().count() == 25
    # a local frame is numbered densely into one partition
    indexed, n = store.stage_indexed(local_df(spark, [(i,) for i in range(7)], "k long"))
    assert n == 7 and indexed.rdd.getNumPartitions() == 1
    assert sorted((r["k"], r["_idx"]) for r in indexed.collect()) == [(i, i) for i in range(7)]


def test_set_based_create_from_match(spark):
    """MATCH binding of 120 rows → CREATE appends 120 nodes + 120 rels in
    one batch (no driver row loop)."""
    from docker_neo4j_spark.cypher.session import Session

    store = GraphStore(spark)
    store.create_nodes("dog", [{"name": f"d{i}"} for i in range(120)])
    s = Session(spark, store=store)
    out = s.run(
        "MATCH (d:dog) CREATE (t:tag {kind:'good'})-[:TAGS]->(d) "
        "RETURN count(*) AS n"
    ).collect()
    assert out[0]["n"] == 120
    assert store.match_nodes("tag").count() == 120
    assert store.graph.rels.where(F.col("type") == "TAGS").count() == 120
    # created node ids are unique and disjoint from the dogs'
    assert store.graph.nodes.select("id").distinct().count() == 240
    # the created pattern reads back joined correctly
    joined = s.run("MATCH (t:tag)-[:TAGS]->(d:dog) RETURN count(*) AS n").collect()
    assert joined[0]["n"] == 120


def test_remove_props_and_merge_rel(spark):
    store = GraphStore(spark)
    (a,) = store.create_nodes("dog", [{"name": "Arne", "age": 7}])
    (b,) = store.create_nodes("dog", [{"name": "Bosse", "age": 3}])

    # REMOVE n.age on Arne only
    store.remove_props("dog", {"name": "Arne"}, ["age"])
    ages = {r["name"]: r["age"] for r in store.match_nodes("dog").collect()}
    assert ages == {"Arne": None, "Bosse": 3}

    # MERGE rel: a second run matches the first run's relationship
    s = Session(spark, store=store)
    merge = (
        "MATCH (a:dog {name: 'Arne'}), (b:dog {name: 'Bosse'}) "
        "MERGE (a)-[r:%s]->(b) RETURN id(r) AS rid"
    )
    r1 = s.run(merge % "SNIFFS").collect()[0].rid
    r2 = s.run(merge % "SNIFFS").collect()[0].rid
    assert r1 == r2
    assert store.graph.rels.count() == 1
    # different type between same endpoints is a new rel
    r3 = s.run(merge % "LIKES").collect()[0].rid
    assert r3 != r1
    assert store.graph.rels.count() == 2


def test_jsonl_roundtrip_and_csv_export(spark, tmp_path):
    from docker_neo4j_spark.sources.textdata import export_graph_csv, read_jsonl, write_jsonl

    df = spark.createDataFrame(
        [(1, "hello world", "en"), (2, "hallo welt", "de")],
        "doc_id long, text string, lang string",
    )
    write_jsonl(df, str(tmp_path / "docs"))
    back = read_jsonl(spark, str(tmp_path / "docs"), schema=df.schema)
    assert sorted(r["text"] for r in back.collect()) == ["hallo welt", "hello world"]

    store = GraphStore(spark)
    a, b = store.create_nodes("dog", [{"name": "Arne"}, {"name": "Bosse"}])
    store.create_rels("SNIFFS", [(a, b)])
    export_graph_csv(store.graph, str(tmp_path / "exp"))
    nodes = spark.read.option("header", True).csv(str(tmp_path / "exp/nodes"))
    rels = spark.read.option("header", True).csv(str(tmp_path / "exp/rels"))
    assert nodes.count() == 2 and rels.count() == 1
    assert "labels" in nodes.columns  # array flattened to ;-joined string
    assert nodes.where(F.col("labels") == "dog").count() == 2


from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st


@settings(max_examples=5, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    b1=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=40),
    b2=st.lists(st.integers(min_value=0, max_value=30), min_size=1, max_size=40),
)
def test_merge_nodes_batch_laws(spark, b1, b2):
    """MERGE-batch laws for any pair of ``UNWIND $rows`` key batches: each
    returns one row per element, |nodes| grows to |K1| and then to the
    distinct key union (inserts decompose as |K1| + |K2∖K1|), and
    re-merging either batch inserts nothing (idempotence)."""
    s = Session(spark, store=GraphStore(spark))

    def merge(keys):
        return s.run(
            "UNWIND $rows AS r MERGE (t:T {ck: r.ck}) RETURN count(*) AS n",
            {"rows": [{"ck": k} for k in keys]},
        ).collect()[0].n

    def size():
        return s.run("MATCH (t:T) RETURN count(*) AS n").collect()[0].n

    assert merge(b1) == len(b1)
    assert size() == len(set(b1))
    assert merge(b2) == len(b2)
    assert size() == len(set(b1) | set(b2))
    merge(b1)
    merge(b2)
    assert size() == len(set(b1) | set(b2))


def test_index_ddl_create_show_drop_and_dump_clustering(spark, tmp_path):
    """CREATE/SHOW/DROP INDEX through the façade; dump clusters node rows
    within partitions by the indexed property and the catalog survives
    dump/load (storage/indexes.py)."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark)
    s.run("CREATE (a:dog {name: 'Arne', age: 4})")
    s.run("CREATE (b:dog {name: 'Bosse', age: 2})")
    s.run("CREATE INDEX dog_name FOR (n:dog) ON (n.name)")
    idx = s.run("SHOW INDEXES").collect()
    assert [(r["name"], r["state"], r["type"], r["labelsOrTypes"], r["properties"]) for r in idx] == [
        ("dog_name", "ONLINE", "RANGE", ["dog"], ["name"])
    ]
    # duplicate without IF NOT EXISTS refuses; with it, no-op
    import pytest as _pt

    with _pt.raises(Exception):
        s.run("CREATE INDEX dog_name FOR (n:dog) ON (n.name)")
    s.run("CREATE INDEX dog_name IF NOT EXISTS FOR (n:dog) ON (n.name)")
    # dump applies within-partition clustering on the indexed column and
    # persists the catalog
    d = str(tmp_path / "dump")
    s.store.dump(d)
    re_store = GraphStore.load(spark, d)
    assert [x.name for x in re_store.indexes.indexes.values()] == ["dog_name"]
    names = [r["name"] for r in spark.read.parquet(f"{d}/nodes").select("name").collect()]
    assert sorted(names) == ["Arne", "Bosse"]
    # drop removes it; IF EXISTS tolerates absence
    s.run("DROP INDEX dog_name")
    assert s.run("SHOW INDEXES").count() == 0
    s.run("DROP INDEX dog_name IF EXISTS")
    with _pt.raises(Exception):
        s.run("DROP INDEX dog_name")


def test_unique_constraint_blocks_duplicate_create(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})")
    s.run("CREATE CONSTRAINT dog_name_uq FOR (n:dog) REQUIRE n.name IS UNIQUE")
    rows = s.run("SHOW CONSTRAINTS").collect()
    assert [(r["name"], r["type"], r["labelsOrTypes"], r["properties"]) for r in rows] == [
        ("dog_name_uq", "UNIQUENESS", ["dog"], ["name"])
    ]
    # new unique value fine; duplicate refused; null exempt; other labels exempt
    s.run("CREATE (b:dog {name:'Bosse'})")
    import pytest as _pytest

    with _pytest.raises(ValueError, match="dog.*name.*Arne"):
        s.run("CREATE (c:dog {name:'Arne'})")
    s.run("CREATE (d:dog)")
    s.run("CREATE (e:cat {name:'Arne'})")
    assert s.run("MATCH (n:dog) RETURN count(*) AS n").collect()[0]["n"] == 3


def test_constraint_rejects_preexisting_violation_and_survives_dump(spark, tmp_path):
    import pytest as _pytest

    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})")
    s.run("CREATE (b:dog {name:'Arne'})")
    with _pytest.raises(ValueError, match="duplicate"):
        s.run("CREATE CONSTRAINT uq FOR (n:dog) REQUIRE n.name IS UNIQUE")
    # fresh store: constraint round-trips through dump/load and still arms
    s2 = Session(spark)
    s2.run("CREATE (a:dog {name:'Arne'})")
    s2.run("CREATE CONSTRAINT uq FOR (n:dog) REQUIRE n.name IS UNIQUE")
    d = str(tmp_path / "dump")
    s2.store.dump(d)
    again = GraphStore.load(spark, d)
    s3 = Session(spark, store=again)
    with _pytest.raises(ValueError, match="Arne"):
        s3.run("CREATE (x:dog {name:'Arne'})")
    s3.run("DROP CONSTRAINT uq")
    s3.run("CREATE (x:dog {name:'Arne'})")  # unconstrained again


def test_unique_constraint_blocks_set_collision(spark):
    """SET onto a constrained property enforces uniqueness (ADVICE r6:
    the reference enforces uniqueness on property updates, not just
    creates — both the façade SET path and the direct store API)."""
    import pytest as _pytest

    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (a:dog {name:'Arne'})")
    s.run("CREATE (b:dog {name:'Bosse'})")
    s.run("CREATE CONSTRAINT dog_name_uq FOR (n:dog) REQUIRE n.name IS UNIQUE")
    # façade MATCH … SET path (set_props_by_ids) refuses the collision
    with _pytest.raises(ValueError, match="dog.*name.*'Arne'"):
        s.run("MATCH (n:dog {name:'Bosse'}) SET n.name = 'Arne'")
    # non-colliding update still fine; store unchanged by the failed SET
    s.run("MATCH (n:dog {name:'Bosse'}) SET n.name = 'Birgit'")
    names = sorted(
        r["name"] for r in s.run("MATCH (n:dog) RETURN n.name AS name").collect()
    )
    assert names == ["Arne", "Birgit"]
    # direct store API set_props path refuses too
    with _pytest.raises(ValueError, match="dog.*name.*'Arne'"):
        s.store.set_props("dog", {"name": "Birgit"}, {"name": "Arne"})
    # setting to NULL never collides (null keys exempt under Cypher semantics)
    s.store.set_props("dog", {"name": "Birgit"}, {"name": None})


def test_per_row_expression_props_in_bulk_create(spark):
    """MATCH … CREATE with properties referencing the binding (r10):
    {name: a.name, vv: a.v * 10} compiles per-row against the MATCH
    frame — set-based, never collected."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:Src {name:'arne', v: 3})")
    s.run("CREATE (:Src {name:'bo', v: 5})")
    s.run("MATCH (a:Src) CREATE (c:Copy {name: a.name, vv: a.v * 10})")
    rows = s.run(
        "MATCH (c:Copy) RETURN c.name AS nm, c.vv AS vv ORDER BY nm"
    ).collect()
    assert [(r.nm, r.vv) for r in rows] == [("arne", 30), ("bo", 50)]
    s.run(
        "MATCH (a:Src {name:'arne'}), (b:Src {name:'bo'}) "
        "CREATE (a)-[:OWES {amt: a.v + b.v}]->(b)"
    )
    amt = s.run("MATCH ()-[r:OWES]->() RETURN r.amt AS amt").collect()[0].amt
    assert amt == 8


def test_match_merge_rel_tail_idempotent(spark):
    """r11: MATCH … MERGE (a)-[:T]->(b) — get-or-create an edge between
    matched anchors (the reference's DatabaseIO graph-building shape),
    idempotent on re-run, one set-based MERGE per statement."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:MDog {name:'Arne'})")
    s.run("CREATE (:MDog {name:'Bosse'})")
    for _ in range(2):
        s.run(
            "MATCH (a:MDog {name:'Arne'}), (b:MDog {name:'Bosse'}) "
            "MERGE (a)-[:SNIFFS]->(b)"
        )
    n = s.run("MATCH (:MDog)-[r:SNIFFS]->(:MDog) RETURN count(r) AS n")
    assert n.collect()[0].n == 1


def test_match_merge_on_create_on_match_branches(spark):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:BDog {name:'A'})")
    s.run("CREATE (:BDog {name:'B'})")
    stmt = (
        "MATCH (a:BDog {name:'A'}), (b:BDog {name:'B'}) "
        "MERGE (a)-[r:LIKES]->(b) "
        "ON CREATE SET r.since = 2020 ON MATCH SET r.since = 9999 "
        "RETURN type(r) AS t, r.since AS since"
    )
    first = s.run(stmt).collect()
    assert [(r.t, r.since) for r in first] == [("LIKES", 2020)]
    second = s.run(stmt).collect()
    assert [(r.t, r.since) for r in second] == [("LIKES", 9999)]


def test_match_merge_rel_key_props_distinct(spark):
    """Rel props in a MERGE pattern are MATCH KEYS: distinct key values
    create distinct rels; repeated keys are idempotent."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:KDog {name:'A'})")
    s.run("CREATE (:KDog {name:'B'})")
    for yr in (2021, 2022, 2021):
        s.run(
            "MATCH (a:KDog {name:'A'}), (b:KDog {name:'B'}) "
            f"MERGE (a)-[:MET {{year: {yr}}}]->(b)"
        )
    rows = s.run(
        "MATCH ()-[r:MET]->() RETURN r.year AS y ORDER BY y"
    ).collect()
    assert [r.y for r in rows] == [2021, 2022]


def test_match_merge_node_tail(spark):
    """MATCH … MERGE (k:Label {key: expr}) — per-row node get-or-create
    keyed on computed values, one set-based MERGE per statement."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:NDog {name:'Arne'})")
    s.run("CREATE (:NDog {name:'Bosse'})")
    for _ in range(2):
        s.run("MATCH (d:NDog) MERGE (k:Kennel {owner: d.name})")
    n = s.run("MATCH (k:Kennel) RETURN count(k) AS n").collect()[0].n
    assert n == 2
    got = s.run(
        "MATCH (d:NDog {name:'Arne'}) MERGE (k:Kennel {owner: d.name}) "
        "RETURN k.owner AS o"
    ).collect()
    assert [r.o for r in got] == ["Arne"]


def test_match_merge_without_an_anchor(spark):
    """An unbound endpoint grows the pattern (r11); a MERGE tail with NO
    bound endpoint is the same whole-pattern get-or-create: created on
    the first run, matched on the second."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:UDog {name:'A'})")
    # one unbound endpoint: whole-pattern get-or-create (idempotent)
    for _ in range(2):
        s.run("MATCH (a:UDog) MERGE (a)-[:T]->(b:UOther {k: 1})")
    assert s.run("MATCH (:UDog)-[r:T]->(:UOther) RETURN count(r) AS n").collect()[0].n == 1
    for _ in range(2):
        s.run("MATCH (a:UDog) MERGE (x:UX)-[:T]->(y:UY)")
    assert s.run("MATCH (:UX)-[r:T]->(:UY) RETURN count(r) AS n").collect()[0].n == 1
    assert s.run("MATCH (x:UX) RETURN count(x) AS n").collect()[0].n == 1


def test_foreach_expression_lists(spark):
    """r11: FOREACH iterates ANY closed list expression, not just
    bracket literals."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("FOREACH (i IN range(1, 3) | CREATE (:FSeqT {n: i}))")
    got = s.run("MATCH (x:FSeqT) RETURN x.n AS n ORDER BY n").collect()
    assert [r.n for r in got] == [1, 2, 3]
    # idempotent MERGE body over a literal list still works
    for _ in range(2):
        s.run("FOREACH (w IN ['a', 'b'] | MERGE (:FWord {t: w}))")
    assert s.run("MATCH (x:FWord) RETURN count(x) AS c").collect()[0].c == 2
    with pytest.raises(ValueError):
        s.run("FOREACH (i IN 42 | CREATE (:FBad {n: i}))")


def test_set_with_continue_pipeline(spark):
    """r11: MATCH … SET … WITH … RETURN — write mid-pipeline with
    read-your-writes feeding the stage filter."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:WC {name:'a', v: 1})")
    s.run("CREATE (:WC {name:'b', v: 2})")
    got = s.run(
        "MATCH (n:WC) SET n.v = n.v * 10 WITH n WHERE n.v >= 20 "
        "RETURN n.name AS name, n.v AS v"
    ).collect()
    assert [(r.name, r.v) for r in got] == [("b", 20)]
    back = s.run("MATCH (n:WC) RETURN n.name AS name, n.v AS v ORDER BY name").collect()
    assert [(r.name, r.v) for r in back] == [("a", 10), ("b", 20)]


def test_merge_grow_unbound_endpoint(spark):
    """r11: MATCH (a) MERGE (a)-[:T]->(b:L {k: expr}) — atomic
    whole-pattern get-or-create per anchor row; a miss creates a FRESH
    leaf even if a node with those props exists elsewhere."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    for name, city in (("ann", "oslo"), ("bob", "oslo"), ("cat", "rome")):
        s.run(f"CREATE (:GPers {{name:'{name}', city:'{city}'}})")
    # an unrelated City node with a matching prop must NOT be reused
    s.run("CREATE (:GCity {name:'oslo'})")
    for _ in range(2):
        s.run("MATCH (p:GPers) MERGE (p)-[:LIVES_IN]->(c:GCity {name: p.city})")
    # 1 pre-existing + 3 fresh (one per anchor; atomic pattern semantics)
    assert s.run("MATCH (c:GCity) RETURN count(c) AS n").collect()[0].n == 4
    assert (
        s.run("MATCH (:GPers)-[r:LIVES_IN]->(:GCity) RETURN count(r) AS n")
        .collect()[0].n == 3
    )
    # ON CREATE / ON MATCH branches + RETURN over the grown binding
    stmt = (
        "MATCH (p:GPers {name:'ann'}) MERGE (p)-[:OWNS]->(d:GDog {name:'rex'}) "
        "ON CREATE SET d.new = 1 ON MATCH SET d.new = 0 "
        "RETURN d.name AS dn, d.new AS new"
    )
    assert [tuple(r) for r in s.run(stmt).collect()] == [("rex", 1)]
    assert [tuple(r) for r in s.run(stmt).collect()] == [("rex", 0)]
    # reversed arrow grows on the correct side
    s.run("MATCH (p:GPers {name:'bob'}) MERGE (p)<-[:MANAGES]-(m:GMgr {name:'zed'})")
    got = s.run(
        "MATCH (m:GMgr)-[:MANAGES]->(p:GPers) RETURN m.name AS mn, p.name AS pn"
    ).collect()
    assert [tuple(r) for r in got] == [("zed", "bob")]


def test_create_delete_with_continue(spark):
    """r11: write-then-continue extends to CREATE and DELETE tails."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:CSrc {name:'a', v: 1})")
    s.run("CREATE (:CSrc {name:'b', v: 2})")
    out = s.run(
        "MATCH (n:CSrc) CREATE (c:CCopy {name: n.name, v: n.v * 100}) "
        "WITH c WHERE c.v >= 200 RETURN c.name AS name, c.v AS v"
    ).collect()
    assert [tuple(r) for r in out] == [("b", 200)]
    assert s.run("MATCH (c:CCopy) RETURN count(c) AS n").collect()[0].n == 2
    out = s.run(
        "MATCH (n:CSrc {name:'a'}) DELETE n WITH 1 AS one RETURN count(*) AS c"
    ).collect()
    assert out[0].c == 1
    assert [
        r.name for r in s.run("MATCH (n:CSrc) RETURN n.name AS name").collect()
    ] == ["b"]


def test_set_replace_all_props(spark):
    """r11: SET n = {map} replaces the whole property map — unlisted
    properties null out; += stays the non-destructive merge."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:RP {name:'a', age: 1, extra: 'x'})")
    got = s.run(
        "MATCH (n:RP) SET n = {name: 'b', age: 2} "
        "RETURN n.name AS nm, n.age AS ag, n.extra AS ex"
    ).collect()[0]
    assert (got.nm, got.ag, got.ex) == ("b", 2, None)
    assert s.run("MATCH (n:RP) RETURN keys(n) AS k").collect()[0].k == ["age", "name"]


def test_auto_compaction_bounds_union_lineage(spark):
    """r11: every AUTO_COMPACT_EVERY frame swaps the store checkpoints
    its union chain, so a long interactive write session's plan depth
    stays bounded instead of growing one Union per write."""
    store = GraphStore(spark)
    for i in range(GraphStore.AUTO_COMPACT_EVERY + 8):
        store.create_nodes("CG", [{"n": i}])
    plan = store.graph.nodes._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") < GraphStore.AUTO_COMPACT_EVERY
    # correctness across the compaction boundary
    assert store.match_nodes("CG").count() == GraphStore.AUTO_COMPACT_EVERY + 8


def test_merge_chain_whole_pattern_atomic(spark):
    """r12 (VERDICT r11 task 6): MATCH … MERGE (a)-[:X]->(b)-[:Y]->(c) —
    whole-pattern atomicity (a partial match creates EVERY relationship
    anew, the openCypher contract) and idempotence on re-run."""
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark, store=GraphStore(spark))
    s.run(
        "UNWIND $rows AS r CREATE (:Ct {name: r.name, idx: r.idx})",
        {"rows": [{"name": f"t{i}", "idx": i} for i in range(4)]},
    )
    s.run("MATCH (a:Ct {idx: 0}), (b:Ct {idx: 1}) CREATE (a)-[:R1]->(b)")
    chain = (
        "MATCH (a:Ct {idx: 0}), (b:Ct {idx: 1}), (c:Ct {idx: 2}) "
        "MERGE (a)-[:R1]->(b)-[:R2]->(c)"
    )
    # partial pattern exists (a-R1->b) → whole-pattern miss → BOTH created
    s.run(chain)
    n = s.run("MATCH ()-[r]->() RETURN count(r) AS n").collect()[0].n
    assert n == 3  # pre-existing R1 + fresh R1 + fresh R2
    # whole pattern now matches → idempotent
    s.run(chain)
    assert s.run("MATCH ()-[r]->() RETURN count(r) AS n").collect()[0].n == 3
    # a fully-missing chain creates each hop exactly once
    s.run(
        "MATCH (b:Ct {idx: 1}), (c:Ct {idx: 2}), (d:Ct {idx: 3}) "
        "MERGE (b)-[:R3]->(c)-[:R3]->(d)"
    )
    r3 = s.run("MATCH ()-[r:R3]->() RETURN count(r) AS n").collect()[0].n
    assert r3 == 2
    # ON CREATE/ON MATCH branch on node vars + RETURN rebinding
    s.run(
        "MATCH (a:Ct {idx: 0}), (b:Ct {idx: 1}), (c:Ct {idx: 2}) "
        "MERGE (a)-[:R1]->(b)-[:R2]->(c) ON MATCH SET a.seen = 1"
    )
    assert s.run(
        "MATCH (a:Ct {idx: 0}) RETURN a.seen AS s"
    ).collect()[0].s == 1
    rows = s.run(
        "MATCH (a:Ct {idx: 0}), (b:Ct {idx: 1}), (c:Ct {idx: 2}) "
        "MERGE (a)-[r1:R1]->(b)-[r2:R2]->(c) "
        "RETURN type(r1) AS t1, type(r2) AS t2"
    ).collect()
    assert {(r.t1, r.t2) for r in rows} == {("R1", "R2")}
    assert len(rows) == 2  # two R1 edges fan out, MERGE-as-MATCH cardinality
    # an unbound chain endpoint is created with the whole pattern on the
    # first run (a fresh R1 too) and matched on the second
    for _ in range(2):
        s.run(
            "MATCH (a:Ct {idx: 0}), (b:Ct {idx: 1}) "
            "MERGE (a)-[:R1]->(b)-[:R9]->(z:Ct {idx: 9})"
        )
    assert s.run("MATCH (z:Ct {idx: 9}) RETURN count(z) AS n").collect()[0].n == 1
    assert s.run("MATCH ()-[r:R9]->() RETURN count(r) AS n").collect()[0].n == 1
    assert s.run("MATCH ()-[r:R1]->() RETURN count(r) AS n").collect()[0].n == 3


def test_property_type_conflict_fails_loud(spark):
    """A write whose property type conflicts with the stored column's
    type fails AT WRITE TIME with the engine error shape (late r12 —
    Spark's union coercion used to embed an ANSI cast that detonated at
    an arbitrary later read); numeric×numeric widens to double instead."""
    import pytest
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    s.run("CREATE (:Tc {v: 1})")
    with pytest.raises(ValueError, match="type conflict"):
        s.run("CREATE (:Tc2 {v: 'text'})")
    # numeric widening is silent and exact enough
    s.run("CREATE (:Tc3 {v: 2.5})")
    got = {tuple(r) for r in s.run(
        "MATCH (n) WHERE n.v IS NOT NULL RETURN n.v AS v"
    ).collect()}
    assert got == {(1.0,), (2.5,)}


def test_integer_family_conflict_widens_to_bigint_not_double(spark):
    """int×bigint property conflicts widen WITHIN the integer family
    (r13 — ADVICE r12): a write carrying an IntegerType column must not
    float the stored longs (precision loss above 2^53). Only a genuine
    int×float conflict reaches the double cast."""
    from pyspark.sql import functions as F

    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.storage.store import GraphStore

    s = Session(spark)
    s.run("CREATE (:Wd {big: 9007199254740993})")  # 2^53 + 1
    store: GraphStore = s.store
    # an INT-typed frame for the same property (e.g. computed via size())
    extra = spark.range(1).select(
        (F.col("id") + 1000000).alias("id"),
        F.array(F.lit("Wd")).alias("labels"),
        F.lit(7).cast("int").alias("big"),
    )
    merged = store._union_missing(store.graph.nodes, extra)
    assert dict(merged.dtypes)["big"] == "bigint"
    vals = {r.big for r in merged.select("big").collect()}
    assert 9007199254740993 in vals and 7 in vals  # exact, not floated


# Statements whose MERGE, CREATE or LOAD CSV write hands the rest of the
# statement to the clause tail: (setup, statements, checks). A check with
# no query asserts the last statement's rows.
_WRITE_TAILS = [
    pytest.param(
        [], ["MERGE (a:P {n:1}) MERGE (b:P {n:2}) MERGE (a)-[:K]->(b)"] * 2,
        [("MATCH (:P {n:1})-[k:K]->(:P {n:2}) RETURN count(k) AS c", [(1,)]),
         ("MATCH (p:P) RETURN count(p) AS c", [(2,)])],
        id="merge-merge-merge-rel",
    ),
    pytest.param(
        [], ["MERGE (a:P {n:1})-[r:K]->(b:P {n:2}) "
             "ON CREATE SET r.w = 1 ON MATCH SET r.w = r.w + 1"] * 2,
        [("MATCH ()-[r:K]->() RETURN r.w AS w", [(2,)])],
        id="merge-rel-on-set",
    ),
    pytest.param(
        ["CREATE (:P {n:1})"],
        ["MATCH (a:P {n:1}) MERGE (b:Q {n:1}) WITH a, b RETURN a.n AS an, b.n AS bn"],
        [(None, [(1, 1)])], id="match-merge-with",
    ),
    pytest.param(
        ["CREATE (:P {n:1})"],
        ["MATCH (a:P {n:1}) MERGE (a)-[:K3]->(b:Q {n:3}) "
         "MERGE (b)-[:K4]->(c:Q {n:4}) RETURN c.n"],
        [(None, [(4,)])], id="match-merge-merge-chain",
    ),
    pytest.param(
        [], ["MERGE (a:P {n:9}) DELETE a"],
        [("MATCH (a:P {n:9}) RETURN count(a) AS c", [(0,)])], id="merge-delete",
    ),
    pytest.param(
        ["CREATE (:P {n:1})"],
        ["MATCH (a:P {n:1}) MERGE (x:UX)-[:T]->(y:UY) RETURN count(*) AS c"],
        [(None, [(1,)])], id="merge-unanchored-pattern",
    ),
    pytest.param(
        ["CREATE (:Ct {idx:0}), (:Ct {idx:1})"],
        ["MATCH (a:Ct {idx:0}), (b:Ct {idx:1}) "
         "MERGE (a)-[:R1]->(b)-[:R9]->(z:Ct {idx:9}) RETURN z.idx"],
        [(None, [(9,)])], id="merge-chain-unbound-end",
    ),
    # a created key binds only the elements its MERGE made, never an
    # older hop that also completes the pattern
    pytest.param(
        ["CREATE (:M {i:0}), (:M {i:1})-[:R1 {old: true}]->(:M {i:2})"],
        ["MATCH (a:M {i:0}), (b:M {i:1}), (c:M {i:2}) "
         "MERGE (a)-[:R0]->(b)-[r1:R1]->(c) "
         "ON CREATE SET a.c = 1, r1.x = 1 ON MATCH SET a.m = 1, r1.y = 1 "
         "RETURN a.c AS c, a.m AS m, r1.x AS x"],
        [(None, [(1, None, 1)]),
         ("MATCH (a:M {i:0}) RETURN a.c AS c, a.m AS m", [(1, None)]),
         ("MATCH ()-[r:R1 {old: true}]->() RETURN r.x AS x, r.y AS y", [(None, None)]),
         ("MATCH ()-[r:R1]->() WHERE r.old IS NULL RETURN r.x AS x, r.y AS y",
          [(1, None)])],
        id="merge-chain-old-last-hop-on-set",
    ),
    pytest.param(
        ["CREATE (:M {i:0})-[:R1 {old: true}]->(:M {i:1}), (:M {i:2})"],
        ["MATCH (a:M {i:0}), (b:M {i:1}), (c:M {i:2}) "
         "MERGE (a)-[r1:R1]->(b)-[:R2]->(c) "
         "ON CREATE SET r1.x = 1 ON MATCH SET r1.y = 1"],
        [("MATCH ()-[r:R1 {old: true}]->() RETURN r.x AS x, r.y AS y", [(None, None)]),
         ("MATCH ()-[r:R1]->() WHERE r.old IS NULL RETURN r.x AS x, r.y AS y",
          [(1, None)])],
        id="merge-chain-old-first-hop-on-set",
    ),
    pytest.param(
        [], ["CREATE (a:C {n:1}) WITH a MATCH (b:C) RETURN count(b) AS c"],
        [(None, [(1,)])], id="create-with-match",
    ),
    pytest.param(
        [], ["CREATE (a:C {n:2}) MERGE (b:C {n:3}) RETURN b.n"],
        [(None, [(3,)])], id="create-merge",
    ),
    pytest.param(
        [], ["CREATE (a:C {n:4})-[r:CR]->(b:C {n:5}) DELETE r"],
        [("MATCH ()-[r:CR]->() RETURN count(r) AS c", [(0,)]),
         ("MATCH (c:C) RETURN count(c) AS c", [(2,)])],
        id="create-delete-rel",
    ),
    pytest.param(
        [], ["CREATE (n:C {n:6}) SET n = {n: 7} RETURN n.n"],
        [(None, [(7,)])], id="create-set-replace",
    ),
    pytest.param(
        [], ["LOAD CSV WITH HEADERS FROM 'file://{csv}' AS row "
             "MERGE (x:Lx {k: row.k}) SET x.v = row.v"],
        [("MATCH (x:Lx) RETURN x.k AS k, x.v AS v ORDER BY k",
          [("a", "1"), ("b", "2"), ("c", "3")])],
        id="load-csv-merge-set",
    ),
    pytest.param(
        [], ["LOAD CSV WITH HEADERS FROM 'file://{csv}' AS row "
             "MERGE (x:Lz {k: row.k}) RETURN x.k AS k ORDER BY k"],
        [(None, [("a",), ("b",), ("c",)])], id="load-csv-merge-return",
    ),
]


@pytest.mark.parametrize("setup, stmts, checks", _WRITE_TAILS)
def test_write_clause_tails(spark, tmp_path, setup, stmts, checks):
    from docker_neo4j_spark.cypher.session import Session

    csv = tmp_path / "kv.csv"
    csv.write_text("k,v\na,1\nb,2\nc,3\n")
    s = Session(spark, store=GraphStore(spark))
    for q in setup:
        s.run(q)
    for q in stmts:
        last = s.run(q.replace("{csv}", str(csv))).collect()
    for query, want in checks:
        rows = last if query is None else s.run(query).collect()
        assert [tuple(r) for r in rows] == want, query


def test_set_and_remove_write_relationship_properties(spark):
    """SET / REMOVE on a relationship variable update the stored
    relationship, not a node with the same id."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark, store=GraphStore(spark))
    s.run("CREATE (:S {n:1})-[:R {w:0}]->(:S {n:2})")
    got = s.run("MATCH (a:S)-[r:R]->(b:S) SET r.w = 5 RETURN r.w AS w").collect()
    assert [r.w for r in got] == [5]
    assert [r.w for r in s.run("MATCH ()-[r:R]->() RETURN r.w AS w").collect()] == [5]
    s.run("MATCH (a:S)-[r:R]->(b:S) REMOVE r.w")
    assert [r.w for r in s.run("MATCH ()-[r:R]->() RETURN r.w AS w").collect()] == [None]
    assert "w" not in s.store.graph.nodes.columns


@pytest.mark.parametrize("stmt", [
    "MATCH (a:P {name:'a'}) MATCH (a)-[r:R]->(b) DELETE r",
    "MATCH (a:P {name:'a'}) WITH a MATCH (a)-[r:R]->(b) DELETE r",
])
def test_delete_relationship_bound_by_a_later_match(spark, stmt):
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark, store=GraphStore(spark))
    s.run("CREATE (:P {name:'a'})-[:R]->(:P {name:'b'})")
    s.run(stmt)
    assert s.run("MATCH ()-[r:R]->() RETURN count(r) AS n").collect()[0].n == 0
    assert s.run("MATCH (p:P) RETURN count(p) AS n").collect()[0].n == 2


@pytest.mark.parametrize("fold_max_rows", [GraphStore.FOLD_MAX_ROWS, 0])
def test_computed_sets_keep_the_store_plan_linear(spark, fold_max_rows):
    """A SET computed from a binding over the store cuts its change frame
    off the store's plan (folded in as literals, or pinned and joined when
    larger than FOLD_MAX_ROWS): ten self-referencing SETs grow the nodes
    plan by at most two leaf relations each, where each SET doubled it."""
    from docker_neo4j_spark.cypher.session import Session

    store = GraphStore(spark)
    store.FOLD_MAX_ROWS = fold_max_rows
    s = Session(spark, store=store)
    s.run("CREATE (:X {k:1, v:0})")
    for _ in range(10):
        s.run("MATCH (a:X {k:1}) SET a.v = a.v + 1")
    assert s.run("MATCH (a:X {k:1}) RETURN a.v AS v").collect()[0].v == 10
    leaves = store.graph.nodes._jdf.queryExecution().analyzed().collectLeaves().size()
    assert leaves <= 4 + 2 * 10
