"""r14 optimization-round internals: the fused BSP supersteps release
superseded state frames (r14 rewrote the release logic to "one round
behind" around lazy checkpoints — a leak here regresses the O(1)-frames
memory contract that matters at the 100 TB target).

Each kernel may leave its RETURNED frame (and nothing else) pinned: the
result is a localCheckpoint whose blocks the caller still reads. The
pre-r14 code pinned O(rounds) frames in several kernels (LPA, topological
layers, min-label, k-core, Louvain kept every round's state alive)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docker_neo4j_spark.operators import gds
from docker_neo4j_spark.operators.text import bpe_train


def _pinned(spark) -> int:
    return len(spark.sparkContext._jsc.getPersistentRDDs())


def _pinned_settled(spark, limit: int, timeout: float = 15.0) -> int:
    """Block-removal is asynchronous (Dataset.unpersist and RDD.unpersist
    are non-blocking by default), so under load the registry can lag the
    release calls — poll until it settles or the timeout expires."""
    import time

    deadline = time.time() + timeout
    n = _pinned(spark)
    while n > limit and time.time() < deadline:
        time.sleep(0.25)
        n = _pinned(spark)
    return n


def _clear(spark) -> None:
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def _edges(spark, pairs, weights=None):
    if weights is None:
        return spark.createDataFrame(pairs, ["src", "dst"])
    return spark.createDataFrame(
        [(s, d, w) for (s, d), w in zip(pairs, weights)], ["src", "dst", "weight"]
    )


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["id"])


# a graph with enough rounds to expose per-round leaks: two 4-cliques
# joined by a path tail (BFS/label depth > 3)
_PAIRS = (
    [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    + [(a, b) for a in range(10, 14) for b in range(a + 1, 14)]
    + [(4, 6), (6, 7), (7, 8), (8, 10)]
)
_IDS = list(range(1, 5)) + [6, 7, 8] + list(range(10, 14))


@pytest.mark.parametrize(
    "run, bound",
    [
        pytest.param(
            lambda s, e, n: gds.pagerank(e, n, iterations=4), 2, id="pagerank"
        ),
        pytest.param(
            lambda s, e, n: gds.personalized_pagerank(
                e, _nodes(s, [1]), n, iterations=4
            ),
            2,
            id="personalized",
        ),
        pytest.param(lambda s, e, n: gds.wcc(e, n), 2, id="wcc"),
        pytest.param(
            lambda s, e, n: gds.sssp(
                _edges(s, _PAIRS, weights=[1.0] * len(_PAIRS)), _nodes(s, [1])
            ),
            2,
            id="sssp",
        ),
        pytest.param(
            lambda s, e, n: gds.label_propagation(e, n, max_iter=4), 2, id="lpa"
        ),
        pytest.param(
            lambda s, e, n: gds.topological_layers(
                _edges(s, [(1, 2), (2, 3), (3, 4), (1, 4)]), _nodes(s, [1, 2, 3, 4])
            ),
            2,
            id="topological",
        ),
        pytest.param(lambda s, e, n: gds.kcore(e, k=3), 2, id="kcore"),
        pytest.param(lambda s, e, n: gds.louvain(e, n, max_iter=4), 2, id="louvain"),
        pytest.param(
            lambda s, e, n: gds.eigenvector(gds.undirect(e), n, iterations=4),
            2,
            id="eigenvector",
        ),
        pytest.param(lambda s, e, n: gds.hits(e, n, iterations=3), 2, id="hits"),
        pytest.param(
            lambda s, e, n: gds.betweenness(e, _nodes(s, [1, 6, 10]), max_depth=8),
            2,
            id="betweenness",
        ),
        pytest.param(
            lambda s, e, n: gds.dfs_preorder(e, _nodes(s, [1]), max_iter=8),
            2,
            id="dfs",
        ),
        pytest.param(lambda s, e, n: gds.ktruss(e, k=3), 2, id="ktruss"),
        # the r14 second-wave fusions: probe-free Borůvka rounds (plus
        # deep-release of each round's folded-in wcc relabel state),
        # single-checkpoint k1coloring rounds, sllpa memory frames, and
        # steiner's fused Dijkstra + walk/peel releases
        pytest.param(
            lambda s, e, n: gds.spanning_forest(
                _edges(s, _PAIRS, weights=[float(i % 5 + 1) for i in range(len(_PAIRS))]),
                n,
            ),
            2,
            id="spanning_forest",
        ),
        pytest.param(
            lambda s, e, n: gds.k1coloring(e, n, max_rounds=20), 2, id="k1coloring"
        ),
        pytest.param(lambda s, e, n: gds.sllpa(e, n, rounds=4), 2, id="sllpa"),
        pytest.param(
            lambda s, e, n: gds.steiner_tree(
                _edges(s, _PAIRS, weights=[float(i % 5 + 1) for i in range(len(_PAIRS))]),
                _nodes(s, [1, 10, 13]),
            ),
            2,
            id="steiner",
        ),
        # the kernels that hand-rolled their lifetimes: each may keep
        # exactly the checkpoints its returned frame reads
        pytest.param(lambda s, e, n: gds.scc(e, n), 1, id="scc"),
        pytest.param(
            lambda s, e, n: gds.kmeans(
                n.select("id", F.lit(0).alias("j"), (F.col("id") % 3).cast("double").alias("v")),
                k=3,
            ),
            1,
            id="kmeans",
        ),
        pytest.param(lambda s, e, n: gds.wcc_star(e, n), 1, id="wcc_star"),
        pytest.param(lambda s, e, n: gds.fastrp(e, n), 3, id="fastrp"),
        pytest.param(
            lambda s, e, n: gds.influence_maximization(e, n, k=2, n_sims=2),
            0,
            id="influence_maximization",
        ),
        pytest.param(lambda s, e, n: gds.triangle_count(e), 0, id="triangle_count"),
        pytest.param(lambda s, e, n: gds.local_clustering(e), 0, id="local_clustering"),
    ],
)
def test_fused_kernels_release_superseded_state(spark, run, bound):
    _clear(spark)
    e = _edges(spark, _PAIRS)
    n = _nodes(spark, _IDS)
    out = run(spark, e, n)
    out.collect()  # materialize fully (lazy-checkpoint results included)
    # only the returned frame's checkpoints may stay: `bound` is how many
    # it reads (2 for the BSP kernels: result + an internal rank/union
    # stage some kernels checkpoint into the result)
    assert _pinned_settled(spark, bound) <= bound, (
        "fused kernel leaked superseded state frames"
    )
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), (
        "kernel left a cached frame in the CacheManager"
    )
    _clear(spark)


def test_astar_releases_superseded_state(spark):
    """astar's fused loop releases superseded state one round behind.

    The per-hop walk checkpoints ARE the result (as in random_walk) and
    the final Dijkstra state feeds the walk, so those stay pinned: on a
    3-edge path the budget is 4 hop frames + the final state + slack.
    Pre-fusion the same run pinned every round's improved+state pair
    (~11 frames)."""
    _clear(spark)
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)], weights=[1.0, 1.0, 1.0])
    coords = spark.createDataFrame(
        [(i, float(i), 0.0) for i in range(1, 5)], ["id", "x", "y"]
    )
    rows = gds.astar(e, coords, 1, 4).collect()
    assert len(rows) == 1 and rows[0]["path"] == "1,2,3,4"
    assert _pinned_settled(spark, 6) <= 6, "astar leaked superseded state frames"
    _clear(spark)


@pytest.mark.parametrize(
    "run",
    [
        pytest.param(lambda s: gds.wcc(_edges(s, _PAIRS), _nodes(s, _IDS)), id="wcc"),
        pytest.param(
            lambda s: gds.random_walk(_edges(s, _PAIRS), _nodes(s, [1, 6]), undirected=True),
            id="random_walk",
        ),
        pytest.param(lambda s: gds.scc(_edges(s, _PAIRS), _nodes(s, _IDS)), id="scc"),
    ],
)
def test_kernel_error_releases_pinned_frames(spark, monkeypatch, run):
    """A kernel that raises mid-loop frees its edge pin and every state
    checkpoint on the way out: the served path shares one session, so a
    failed call must not leave frames pinned on it."""
    # the concrete (classic) class: it overrides isEmpty, so patching the
    # pyspark.sql.DataFrame base would not reach live frames
    DataFrame = type(spark.range(0))
    _clear(spark)
    start = _pinned(spark)
    calls = []
    real_is_empty = DataFrame.isEmpty

    def failing_is_empty(self):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("probe failed")
        return real_is_empty(self)

    monkeypatch.setattr(DataFrame, "isEmpty", failing_is_empty)
    with pytest.raises(RuntimeError, match="probe failed"):
        run(spark)
    assert len(calls) == 2
    assert _pinned_settled(spark, start) == start
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    _clear(spark)


def test_result_reading_a_pin_survives_scope_exit(spark):
    """Pins are checkpoints, which cannot be recomputed once released: a
    result that reads a pinned frame keeps it past scope exit, and the
    caller's ``release_deep`` of the result frees it."""
    from docker_neo4j_spark.operators._mem import bsp, release_deep

    _clear(spark)
    start = _pinned(spark)
    edges = _edges(spark, _PAIRS)
    with bsp(edges) as loop:
        pinned = loop.pin(edges, "src")
        assert pinned.count() == len(_PAIRS)  # materialize the pin in scope
        out = loop.result(pinned.select((F.col("src") + F.col("dst")).alias("s")))
    assert sorted(r["s"] for r in out.collect()) == sorted(a + b for a, b in _PAIRS)
    release_deep(out)
    assert _pinned_settled(spark, start) == start
    _clear(spark)


def test_leakage_free_split_releases_superseded_labels(spark):
    """curation.leakage_free_split's min-label fixpoint releases
    superseded label checkpoints one round behind (pre-r14 it pinned one
    frame per wcc round) and folds change detection into the merge; only
    the returned label checkpoint may stay pinned."""
    from docker_neo4j_spark.operators.curation import leakage_free_split

    _clear(spark)
    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta iota kappa xx"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota kappa yy"),
            (3, "one two three four five six seven eight nine ten eleven"),
            (4, "one two three four five six seven eight nine ten twelve"),
            (5, "completely unrelated words that share no ten gram at all ok"),
        ],
        ["doc_id", "text"],
    )
    rows = leakage_free_split(docs, wcc_rounds=6).collect()
    by_id = {r["doc_id"]: r for r in rows}
    # duplicate components land on the same side atomically
    assert by_id[1]["split"] == by_id[2]["split"]
    assert by_id[3]["split"] == by_id[4]["split"]
    assert len(rows) == 5
    assert _pinned_settled(spark, 2) <= 2, (
        "leakage_free_split leaked superseded label frames"
    )
    _clear(spark)


def test_bpe_train_single_job_rounds_release_vocab(spark):
    _clear(spark)
    df = spark.createDataFrame(
        [("low lower lowest newest newer new",), ("wide wider widest low low",)],
        ["text"],
    )
    merges = bpe_train(df, num_merges=4).collect()
    assert len(merges) == 4 and merges[0]["rank"] == 0
    # every intermediate re-segmentation frame must be released; the merge
    # table itself is a local driver frame, not a checkpoint
    assert _pinned_settled(spark, 1) <= 1, "bpe_train leaked re-segmentation frames"
    _clear(spark)


class TestLoopWidth:
    """r14 size-derived loop width: with AQE off inside static_loop_plan
    there is no partition coalescing, so the BSP body runs under a
    shuffle width derived from the kernel's edge-frame size instead of
    the session constant (guide §2.2). Co-partitioning holds at any
    width, so this must be invisible to results and restored on exit."""

    def test_width_derived_from_size_and_capped(self, spark):
        from docker_neo4j_spark.operators._mem import _loop_width

        cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
        tiny = spark.range(10).selectExpr("id as src", "id+1 as dst")
        assert _loop_width(spark, tiny) == 1
        assert _loop_width(spark, None) == cap
        # ~16 bytes/row: 10M-row range sizes ≈ 160 MB >> 8 MiB * cap
        huge = spark.range(10_000_000).selectExpr("id as src", "id+1 as dst")
        assert _loop_width(spark, huge) == cap

    def test_forced_override_and_restore(self, spark):
        from docker_neo4j_spark.operators._mem import static_loop_plan

        before = spark.conf.get("spark.sql.shuffle.partitions")
        tiny = spark.range(10).selectExpr("id as src", "id+1 as dst")
        with static_loop_plan(spark, sized_by=tiny):
            assert spark.conf.get("spark.sql.shuffle.partitions") == "1"
            assert spark.conf.get("spark.sql.adaptive.enabled") == "false"
        assert spark.conf.get("spark.sql.shuffle.partitions") == before

    def test_loop_output_partitioning_matches_width(self, spark):
        """The kernel's returned checkpoint inherits the derived width —
        the in-loop groupBy/repartition really resolve from it. (Uses a
        range-backed frame: RDD-backed frames have unknown stats and
        deliberately fall back to the session cap.)"""
        edges = spark.range(1, 5).selectExpr("id as src", "id+1 as dst")
        out = gds.wcc(edges, edges.selectExpr("src as id").union(
            edges.selectExpr("dst as id")).distinct())
        assert out.rdd.getNumPartitions() == 1
        assert [r["comp"] for r in out.orderBy("id").collect()] == [1] * 5

    def test_k1coloring_runs_at_derived_width(self, spark):
        """k1coloring's state is (id, color) — not source-multiplied — so
        it is sized from its edge frame like the other kernels."""
        from docker_neo4j_spark.operators._mem import _loop_width

        edges = spark.range(1, 5).selectExpr("id as src", "id+1 as dst")
        nodes = edges.selectExpr("src as id").union(edges.selectExpr("dst as id")).distinct()
        out = gds.k1coloring(edges, nodes)
        assert out.rdd.getNumPartitions() == _loop_width(spark, edges) == 1
        # a path 1-2-3-4-5 colors properly with two alternating colors
        assert [r["color"] for r in out.orderBy("id").collect()] == [0, 1, 0, 1, 0]

    def test_betweenness_runs_at_source_slot_width(self, spark):
        """betweenness moves an array[S] per node every round, so its loop
        is sized by the edge frame times S slots, not the session width."""
        from docker_neo4j_spark.operators._mem import _loop_width

        edges = spark.range(1, 5).selectExpr("id as src", "id+1 as dst")
        sources = spark.range(1, 4).selectExpr("id")
        out = gds.betweenness(edges, sources)
        assert out.rdd.getNumPartitions() == _loop_width(spark, edges, slots=3) == 1
        # path 1-2-3-4-5 from sources 1..3: node 2 lies on 1→{3,4,5} and
        # 3→1; node 3 on {1,2}→{4,5}; node 4 on {1,2,3}→5 (raw sums)
        bc = {r["id"]: r["bc"] for r in out.collect()}
        assert (bc[2], bc[3], bc[4]) == (4.0, 4.0, 3.0)

    def test_closeness_walk_runs_at_source_slot_width(self, spark):
        """closeness_walk carries (source, node) rows, S per node: every
        BFS level checkpoint the returned walk unions comes out of the
        loop at the edge frame × S-slot width."""
        from docker_neo4j_spark.operators._mem import _checkpoint_rdds, _loop_width

        edges = spark.range(1, 5).selectExpr("id as src", "id+1 as dst")
        out = gds.closeness_walk(edges, _nodes(spark, [1, 2]))
        rows = out.collect()
        levels = _checkpoint_rdds(out)
        assert len(levels) == 1 + max(r["dist"] for r in rows)
        width = _loop_width(spark, edges, slots=2)
        assert [r.getNumPartitions() for r in levels] == [width] * len(levels)
        assert width == 1
        # from 1: dists 0..4; from 2: 0..3 (undirected: 1 at dist 1)
        assert sorted((r["source"], r["id"], r["dist"]) for r in rows if r["source"] == 2) == [
            (2, 1, 1), (2, 2, 0), (2, 3, 1), (2, 4, 2), (2, 5, 3)
        ]


class TestCodegenCacheSizing:
    """r14 fifth continuation: the generated-class cache must hold a whole
    statement's codegen working set. Spark's default (100 entries) is
    smaller than ONE betweenness execution (110 units measured via
    CodegenMetrics), so every statement in a multi-statement session
    re-paid Janino + C2 JIT for identical generated source — measured as
    a -17% headline_total once fixed."""

    def test_default_covers_measured_working_set(self):
        from docker_neo4j_spark.session import ENGINE_DEFAULT_CONF

        val = int(ENGINE_DEFAULT_CONF["spark.sql.codegen.cache.maxEntries"])
        # largest single-statement unit count measured this round is 110
        # (gds_betweenness_cosupply); the default must hold a full
        # session's worth, not just one statement's.
        assert val >= 1000

    def test_caller_can_override(self):
        from docker_neo4j_spark.session import resolve_conf

        out = resolve_conf({"spark.sql.codegen.cache.maxEntries": "250"})
        assert out["spark.sql.codegen.cache.maxEntries"] == "250"

    def test_live_session_applies_static_conf(self, spark):
        # static SQL conf: readable from the live session the fixtures
        # built through get_spark (would throw if the key were unknown).
        assert int(spark.conf.get("spark.sql.codegen.cache.maxEntries")) >= 1000
