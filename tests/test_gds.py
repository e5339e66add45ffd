"""GDS algorithms on hand-built graphs with known answers — covers the
iterative/float surfaces the DuckDB oracle can't grade (PageRank, LPA)
plus closed-form sanity for the BSP kernel."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from docker_neo4j_spark.operators import gds


def _edges(spark, pairs, weights=None):
    if weights is None:
        return spark.createDataFrame(pairs, ["src", "dst"])
    return spark.createDataFrame(
        [(s, d, w) for (s, d), w in zip(pairs, weights)], ["src", "dst", "weight"]
    )


def _nodes(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], ["id"])


def test_bfs_path_graph(spark):
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    seed = _nodes(spark, [1])
    out = {r["id"]: r["dist"] for r in gds.bfs(e, seed).collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_undirected_and_min_depth(spark):
    # diamond: 1→2→4, 1→3→4 — dist(4) must be 2, not 3
    e = _edges(spark, [(1, 2), (2, 4), (1, 3), (3, 4), (4, 5)])
    out = {r["id"]: r["dist"] for r in gds.bfs(e, _nodes(spark, [1])).collect()}
    assert out[4] == 2 and out[5] == 3
    # undirected: seed at the sink reaches everything
    back = {r["id"]: r["dist"] for r in gds.bfs(e, _nodes(spark, [5]), undirected=True).collect()}
    assert back[1] == 3


def test_sssp_prefers_light_path(spark):
    # 1→3 direct weight 10; 1→2→3 weight 2+3=5
    e = _edges(spark, [(1, 3), (1, 2), (2, 3)], weights=[10, 2, 3])
    out = {r["id"]: r["dist"] for r in gds.sssp(e, _nodes(spark, [1])).collect()}
    assert out == {1: 0, 2: 2, 3: 5}


def test_wcc_two_components(spark):
    e = _edges(spark, [(1, 2), (2, 3), (10, 11)])
    n = _nodes(spark, [1, 2, 3, 10, 11, 99])
    out = {r["id"]: r["comp"] for r in gds.wcc(e, n).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 99: 99}


def test_wcc_star_equals_minlabel_on_random_graphs(spark):
    import random

    rng = random.Random(7)
    for trial in range(3):
        n = 40
        edges = [
            (a, b)
            for a in range(n)
            for b in range(a + 1, n)
            if rng.random() < 0.04
        ]
        if not edges:
            edges = [(0, 1)]
        e = _edges(spark, edges)
        nodes = _nodes(spark, list(range(n)))
        ml = {r["id"]: r["comp"] for r in gds.wcc(e, nodes).collect()}
        st = {r["id"]: r["comp"] for r in gds.wcc_star(e, nodes).collect()}
        assert st == ml, f"trial {trial}"


def test_wcc_star_long_path_and_isolated(spark):
    # 30-hop path: min-label needs 30 rounds, star contraction O(log n)
    e = _edges(spark, [(i, i + 1) for i in range(30)])
    n = _nodes(spark, list(range(31)) + [99])
    out = {r["id"]: r["comp"] for r in gds.wcc_star(e, n, max_iter=10).collect()}
    assert all(out[i] == 0 for i in range(31))
    assert out[99] == 99


def test_pagerank_cycle_uniform_and_mass(spark):
    # 3-cycle: perfectly symmetric → pr = 1.0 each; total mass preserved
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    n = _nodes(spark, [1, 2, 3])
    out = {r["id"]: r["pr"] for r in gds.pagerank(e, n, iterations=20).collect()}
    for v in out.values():
        assert abs(v - 1.0) < 1e-9
    # star: center accumulates, leaves equal; dangling center redistributes
    e2 = _edges(spark, [(1, 9), (2, 9), (3, 9)])
    n2 = _nodes(spark, [1, 2, 3, 9])
    pr2 = {r["id"]: r["pr"] for r in gds.pagerank(e2, n2, iterations=30).collect()}
    assert pr2[9] > pr2[1]
    assert abs(pr2[1] - pr2[2]) < 1e-12 and abs(pr2[2] - pr2[3]) < 1e-12
    assert abs(sum(pr2.values()) - 4.0) < 1e-6


def test_triangle_count_known(spark):
    # two triangles sharing edge (2,3): {1,2,3} and {2,3,4}, plus a tail
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (4, 5)])
    assert gds.triangle_count(e).first()["triangles"] == 2
    # direction/duplicate insensitivity
    e2 = _edges(spark, [(2, 1), (3, 2), (1, 3), (1, 2), (1, 2)])
    assert gds.triangle_count(e2).first()["triangles"] == 1


def test_local_clustering_known(spark):
    # two triangles share edge (2,3); 5 dangles off 4
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (2, 4), (3, 4), (4, 5)])
    out = {r["id"]: (r["triangles"], r["coeff"]) for r in gds.local_clustering(e).collect()}
    assert out[1] == (1, pytest.approx(1.0))       # deg 2, 1 triangle
    assert out[2] == (2, pytest.approx(2 / 3))     # deg 3, 2 triangles
    assert out[3] == (2, pytest.approx(2 / 3))
    assert out[4] == (1, pytest.approx(1 / 3))     # deg 3, 1 triangle
    assert out[5] == (0, pytest.approx(0.0))       # deg 1 → coeff 0


def test_label_propagation_two_cliques(spark):
    clique1 = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    clique2 = [(a, b) for a in (7, 8, 9) for b in (7, 8, 9) if a < b]
    e = _edges(spark, clique1 + clique2 + [(3, 7)])
    n = _nodes(spark, [1, 2, 3, 7, 8, 9])
    out = {r["id"]: r["community"] for r in gds.label_propagation(e, n, max_iter=10).collect()}
    assert len({out[1], out[2], out[3]}) == 1
    assert len({out[7], out[8], out[9]}) == 1


def test_louvain_two_cliques(spark):
    # same bridged-cliques shape as LPA: Louvain must separate the cliques
    # and must NOT merge them across the single bridge edge
    clique1 = [(a, b) for a in (1, 2, 3) for b in (1, 2, 3) if a < b]
    clique2 = [(a, b) for a in (7, 8, 9) for b in (7, 8, 9) if a < b]
    e = _edges(spark, clique1 + clique2 + [(3, 7)])
    n = _nodes(spark, [1, 2, 3, 7, 8, 9, 99])
    out = {r["id"]: r["community"] for r in gds.louvain(e, n, max_iter=8).collect()}
    assert len({out[1], out[2], out[3]}) == 1
    assert len({out[7], out[8], out[9]}) == 1
    assert out[1] != out[9]
    assert out[99] == 99  # isolated node keeps its own community


def test_node_similarity_known(spark):
    # a and b share 1 of 3 total neighbors; a and c share nothing
    e = _edges(spark, [(1, 100), (1, 101), (2, 101), (2, 102), (3, 200)])
    out = {(r["node_a"], r["node_b"]): r["jaccard"] for r in gds.node_similarity(e).collect()}
    assert out == {(1, 2): pytest.approx(1 / 3)}


def test_enumerate_and_shortest_paths(spark):
    from docker_neo4j_spark.operators import paths as P

    # diamond with a long detour: 1→2→4, 1→3→4, 1→5→6→4
    e = _edges(spark, [(1, 2), (2, 4), (1, 3), (3, 4), (1, 5), (5, 6), (6, 4)])
    seed = _nodes(spark, [1])
    target = _nodes(spark, [4])

    allp = P.enumerate_paths(e, seed, max_hops=4, targets=target).collect()
    assert sorted(tuple(r["path"]) for r in allp) == [
        (1, 2, 4), (1, 3, 4), (1, 5, 6, 4),
    ]

    shortest_all = P.all_shortest_paths(e, seed, max_hops=4, targets=target).collect()
    assert sorted(tuple(r["path"]) for r in shortest_all) == [(1, 2, 4), (1, 3, 4)]

    one = P.shortest_path(e, seed, max_hops=4, targets=target).collect()
    assert [tuple(r["path"]) for r in one] == [(1, 2, 4)]  # lexicographic pick


def test_paths_are_simple_on_cycles(spark):
    from docker_neo4j_spark.operators import paths as P

    # cycle 1→2→3→1 plus exit 3→9: enumeration must terminate, no repeats
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 9)])
    out = P.enumerate_paths(e, _nodes(spark, [1]), max_hops=6).collect()
    for r in out:
        assert len(r["path"]) == len(set(r["path"]))
    assert max(r["hops"] for r in out) == 3  # 1→2→3→9 is the longest simple path


def test_personalized_pagerank_locality_and_mass(spark):
    # two disconnected 3-cycles; personalize on a node of the first
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (7, 8), (8, 9), (9, 7)])
    n = _nodes(spark, [1, 2, 3, 7, 8, 9])
    seed = _nodes(spark, [1])
    out = {r["id"]: r["pr"] for r in gds.personalized_pagerank(e, seed, n, iterations=25).collect()}
    # mass sums to 1 and stays in the seed's component
    assert abs(sum(out.values()) - 1.0) < 1e-9
    assert all(out.get(i, 0.0) == 0.0 for i in (7, 8, 9))
    # the seed outranks its cycle-mates (teleport returns to it)
    assert out[1] > out[2] and out[1] > out[3]


def test_personalized_pagerank_dangling_returns_to_source(spark):
    # 1 -> 2, 2 dangling: mass teleports back to 1, never leaks; sum = 1
    e = _edges(spark, [(1, 2)])
    n = _nodes(spark, [1, 2, 5])
    out = {r["id"]: r["pr"] for r in gds.personalized_pagerank(e, _nodes(spark, [1]), n, iterations=30).collect()}
    assert abs(sum(out.values()) - 1.0) < 1e-9
    assert out.get(5, 0.0) == 0.0
    assert out[1] > out[2] > 0


def test_pagerank_weighted_prefers_heavy_edge(spark):
    # 1 splits rank 9:1 between 2 and 3; unweighted would split evenly
    e = _edges(spark, [(1, 2), (1, 3), (2, 1), (3, 1)], weights=[9.0, 1.0, 1.0, 1.0])
    n = _nodes(spark, [1, 2, 3])
    w = {r["id"]: r["pr"] for r in gds.pagerank(e, n, iterations=25, weight_col="weight").collect()}
    u = {r["id"]: r["pr"] for r in gds.pagerank(e, n, iterations=25).collect()}
    assert w[2] > w[3]                      # heavy edge wins
    assert abs(u[2] - u[3]) < 1e-12         # unweighted splits evenly
    assert abs(sum(w.values()) - 3.0) < 1e-6


def test_pagerank_tolerance_early_exit(spark):
    """tolerance mode (gds.pageRank's convergence knob): a symmetric cycle
    converges immediately, so the loop must exit far below the cap with
    the same (uniform) ranks and preserved mass."""
    e = _edges(spark, [(1, 2), (2, 3), (3, 1)])
    n = _nodes(spark, [1, 2, 3])
    out = {r["id"]: r["pr"] for r in gds.pagerank(e, n, iterations=50, tolerance=1e-7).collect()}
    for v in out.values():
        assert abs(v - 1.0) < 1e-9
    assert abs(sum(out.values()) - 3.0) < 1e-9
    # tolerance=None and tolerance-mode agree on a non-trivial graph
    e2 = _edges(spark, [(1, 9), (2, 9), (3, 9), (9, 1)])
    n2 = _nodes(spark, [1, 2, 3, 9])
    fixed = {r["id"]: r["pr"] for r in gds.pagerank(e2, n2, iterations=25).collect()}
    tol = {r["id"]: r["pr"] for r in gds.pagerank(e2, n2, iterations=25, tolerance=1e-12).collect()}
    for k in fixed:
        assert abs(fixed[k] - tol[k]) < 1e-6


def test_pagerank_tolerance_matches_fixed_mode(spark):
    # serving shape (maxIterations=20, tolerance=1e-7) must agree with the
    # fixed-mode fixpoint within tolerance and preserve the rank ORDER —
    # the invariant that lets bench.py time the early-exit shape while the
    # oracle row pins fixed iterations
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (1, 4), (4, 5)])
    n = _nodes(spark, [1, 2, 3, 4, 5, 6])
    fixed = {r["id"]: r["pr"] for r in gds.pagerank(e, n, iterations=30).collect()}
    tol = {r["id"]: r["pr"] for r in gds.pagerank(e, n, iterations=30, tolerance=1e-7).collect()}
    assert set(fixed) == set(tol)
    for k in fixed:
        assert abs(fixed[k] - tol[k]) < 1e-5
    rank = lambda d: [k for k, _ in sorted(d.items(), key=lambda kv: (-kv[1], kv[0]))]
    assert rank(fixed) == rank(tol)


def test_closeness_known_path_graph(spark):
    # path 1-2-3: closeness(2) = 2/2 = 1.0; closeness(1) = 2/3
    e = _edges(spark, [(1, 2), (2, 3)])
    srcs = _nodes(spark, [1, 2, 3])
    out = {r["id"]: r for r in gds.closeness(e, srcs).collect()}
    assert out[2]["closeness"] == 1.0 and out[2]["n_reached"] == 3
    assert abs(out[1]["closeness"] - 2 / 3) < 1e-12
    # isolated source: reaches only itself → closeness 0
    out2 = {r["id"]: r for r in gds.closeness(e, _nodes(spark, [99])).collect()}
    assert out2[99]["closeness"] == 0.0 and out2[99]["n_reached"] == 1


def test_article_rank_dampens_low_degree_recommender(spark):
    # 1 has out-degree 1 (→3), 2 has out-degree 3 (→3,→4,→5). Under
    # PageRank node 1's single link hands 3 its whole rank; ArticleRank
    # divides by (deg + avg) so the low-degree recommendation is worth
    # less than deg=1 would suggest: share(1→3) = 1/(1+avg) < 1.
    e = _edges(spark, [(1, 3), (2, 3), (2, 4), (2, 5)])
    n = _nodes(spark, [1, 2, 3, 4, 5])
    out = {r["id"]: r["pr"] for r in gds.article_rank(e, n, iterations=20).collect()}
    avg = 4 / 5
    base = 0.15
    # sources never receive: exactly the base term
    assert abs(out[1] - base) < 1e-12 and abs(out[2] - base) < 1e-12
    # closed form at the fixpoint for a 2-level DAG
    expect_3 = base + 0.85 * (base / (1 + avg) + base / (3 + avg))
    expect_4 = base + 0.85 * (base / (3 + avg))
    assert abs(out[3] - expect_3) < 1e-9
    assert abs(out[4] - expect_4) < 1e-9 and abs(out[5] - expect_4) < 1e-9
    # ordering: 3 (two recommenders) above 4/5 (one weak recommender)
    assert out[3] > out[4] == out[5] > 0


def test_eigenvector_k3_uniform_and_unreached_zero(spark):
    # complete digraph K3 (aperiodic, eigengap 2 vs -1 so the power
    # iteration converges): uniform dominant eigenvector, L2 norm 1;
    # node 9 has no in-edges -> exactly 0 and its initial boost to node 1
    # decays away
    e = _edges(
        spark, [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1), (9, 1)]
    )
    n = _nodes(spark, [1, 2, 3, 9])
    out = {r["id"]: r["score"] for r in gds.eigenvector(e, n, iterations=25).collect()}
    assert out[9] == 0.0
    import math

    for i in (1, 2, 3):
        assert abs(out[i] - 1 / math.sqrt(3)) < 1e-6
    norm = math.sqrt(sum(v * v for v in out.values()))
    assert abs(norm - 1.0) < 1e-9


def test_eigenvector_weighted_triangle_fixpoint(spark):
    # undirected weighted triangle (non-bipartite -> converges): at the
    # fixpoint A·x is proportional to x and ||x||_2 = 1
    import math

    pairs = [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)]
    weights = [1.0, 1.0, 2.0, 2.0, 3.0, 3.0]
    e = _edges(spark, pairs, weights=weights)
    n = _nodes(spark, [1, 2, 3])
    out = {
        r["id"]: r["score"]
        for r in gds.eigenvector(e, n, iterations=40, weight_col="weight").collect()
    }
    norm = math.sqrt(sum(v * v for v in out.values()))
    assert abs(norm - 1.0) < 1e-9
    a = {  # A·x under the same weights
        1: 1.0 * out[2] + 3.0 * out[3],
        2: 1.0 * out[1] + 2.0 * out[3],
        3: 3.0 * out[1] + 2.0 * out[2],
    }
    lam = math.sqrt(sum(v * v for v in a.values()))
    for i in (1, 2, 3):
        # linear convergence at rate λ2/λ1 — 40 rounds lands ~1e-6 off
        assert abs(a[i] / lam - out[i]) < 1e-5
    # strongest-strength node (3: weights 2+3) dominates
    assert out[3] > out[1] > out[2] > 0


def test_eigenvector_dag_dies_to_zero(spark):
    # directed DAG: the support empties and the norm guard returns all
    # zeros instead of NULLs
    e = _edges(spark, [(1, 2), (2, 3)])
    n = _nodes(spark, [1, 2, 3])
    out = {r["id"]: r["score"] for r in gds.eigenvector(e, n, iterations=10).collect()}
    assert out == {1: 0.0, 2: 0.0, 3: 0.0}


def test_kcore_peels_cascading_tail(spark):
    # K4 on {1,2,3,4} plus a pendant path 4-5-6: the 3-core is exactly the
    # K4 (deg 3 each); 5 and 6 peel in cascading rounds
    k4 = [(a, b) for a in (1, 2, 3, 4) for b in (1, 2, 3, 4) if a < b]
    e = _edges(spark, k4 + [(4, 5), (5, 6)])
    out = {r["id"]: r["deg"] for r in gds.kcore(e, k=3).collect()}
    assert out == {1: 3, 2: 3, 3: 3, 4: 3}
    # k larger than any degree -> empty core
    assert gds.kcore(e, k=10).count() == 0
    # k=1 keeps everything (simple projection degrees)
    out1 = {r["id"]: r["deg"] for r in gds.kcore(e, k=1).collect()}
    assert out1[5] == 2 and out1[6] == 1 and out1[4] == 4


@pytest.fixture(params=["slot_sum", "hof_fold"])
def betweenness_sum(request, monkeypatch):
    """Run a betweenness test through both per-level array-sum forms: the
    per-slot sums, and (switch forced to 0) the HOF fold."""
    if request.param == "hof_fold":
        monkeypatch.setattr(gds, "BETWEENNESS_SLOT_SUM_MAX_SOURCES", 0)


def test_betweenness_path_star_and_cycle(spark, betweenness_sum):
    # path 1-2-3, all sources: bc(2) = 2 raw (ordered pairs (1,3),(3,1))
    e = _edges(spark, [(1, 2), (2, 3)])
    n = _nodes(spark, [1, 2, 3])
    out = {r["id"]: r["bc"] for r in gds.betweenness(e, n).collect()}
    assert out.get(2) == 2.0 and out.get(1, 0.0) == 0.0 and out.get(3, 0.0) == 0.0
    # star K1,3: center carries all 6 ordered leaf pairs
    e2 = _edges(spark, [(0, 1), (0, 2), (0, 3)])
    n2 = _nodes(spark, [0, 1, 2, 3])
    out2 = {r["id"]: r["bc"] for r in gds.betweenness(e2, n2).collect()}
    assert out2[0] == 6.0
    # 4-cycle: two equal shortest paths between opposite corners — every
    # node carries 2 * (1/2 + 1/2) = ... = 1.0 raw each
    e3 = _edges(spark, [(1, 2), (2, 4), (4, 3), (3, 1)])
    n3 = _nodes(spark, [1, 2, 3, 4])
    out3 = {r["id"]: r["bc"] for r in gds.betweenness(e3, n3).collect()}
    for v in (1, 2, 3, 4):
        assert abs(out3[v] - 1.0) < 1e-12


def test_betweenness_sampled_subset_of_sources(spark):
    # restricting sources = only those trees' dependencies accumulate
    e = _edges(spark, [(1, 2), (2, 3), (3, 4)])
    out = {r["id"]: r["bc"] for r in gds.betweenness(e, _nodes(spark, [1])).collect()}
    # from source 1: delta(2) = 2 (targets 3,4), delta(3) = 1 (target 4)
    assert out[2] == 2.0 and out[3] == 1.0 and out.get(4, 0.0) == 0.0


def test_random_walk_deterministic_and_sink_stop(spark):
    # path 1→2→3: from 1 the only walk is 1,2,3 then stops at the sink
    e = _edges(spark, [(1, 2), (2, 3)])
    out = gds.random_walk(e, _nodes(spark, [1]), steps=5)
    rows = sorted((r["step"], r["id"]) for r in out.collect())
    assert rows == [(0, 1), (1, 2), (2, 3)]
    # deterministic: two runs agree exactly; a different salt may diverge
    e2 = _edges(spark, [(1, 2), (1, 3), (2, 1), (3, 1)])
    a = sorted(map(tuple, gds.random_walk(e2, _nodes(spark, [1]), steps=4).collect()))
    b = sorted(map(tuple, gds.random_walk(e2, _nodes(spark, [1]), steps=4).collect()))
    assert a == b
    # every step emits exactly one row per live walk
    n = _nodes(spark, [1, 2, 3])
    w = gds.random_walk(e2, n, steps=3)
    per_step = {r["step"]: r["cnt"] for r in w.groupBy("step").agg(F.count("*").alias("cnt")).collect()}
    assert per_step[0] == 3 and all(v == 3 for v in per_step.values())


def test_hits_golden_ratio_bipartite(spark):
    # hubs {1,2} -> authorities {3,4}: 1->3, 1->4, 2->4. The principal
    # eigenvectors of A^T A / A A^T give auth4/auth3 = hub1/hub2 = phi
    # (the golden ratio); pure-hub nodes have auth 0 and vice versa.
    import math

    e = _edges(spark, [(1, 3), (1, 4), (2, 4)])
    n = _nodes(spark, [1, 2, 3, 4])
    rows = {r["id"]: (r["hub"], r["auth"]) for r in gds.hits(e, n, iterations=30).collect()}
    phi = (1 + math.sqrt(5)) / 2
    assert rows[3][0] == 0.0 and rows[4][0] == 0.0  # no out-edges -> hub 0
    assert rows[1][1] == 0.0 and rows[2][1] == 0.0  # no in-edges -> auth 0
    assert abs(rows[4][1] / rows[3][1] - phi) < 1e-6
    assert abs(rows[1][0] / rows[2][0] - phi) < 1e-6
    hub_norm = math.sqrt(sum(h * h for h, _ in rows.values()))
    auth_norm = math.sqrt(sum(a * a for _, a in rows.values()))
    assert abs(hub_norm - 1.0) < 1e-9 and abs(auth_norm - 1.0) < 1e-9


def test_modularity_two_triangles_bridge(spark):
    # two triangles {1,2,3} and {4,5,6} joined by 3-4; the natural
    # 2-community split has Q = 70/196 = 0.357142857...
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)])
    asg = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)], ["id", "community"]
    )
    row = gds.modularity(e, asg).collect()[0]
    assert row["two_m"] == 14
    assert row["q_num"] == 14 * 12 - (49 + 49)  # 70, exact integers
    assert row["q_micro"] == 357143


def test_modularity_single_community_is_zero(spark):
    # everything in one community: Q = m/m - (2m/2m)^2 = 0 exactly
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    asg = spark.createDataFrame([(1, 1), (2, 1), (3, 1)], ["id", "community"])
    row = gds.modularity(e, asg).collect()[0]
    assert row["q_num"] == 0 and row["q_micro"] == 0


def test_conductance_two_triangles_bridge(spark):
    e = _edges(spark, [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 4)])
    asg = spark.createDataFrame(
        [(1, 10), (2, 10), (3, 10), (4, 20), (5, 20), (6, 20)], ["id", "community"]
    )
    rows = {r["community"]: r for r in gds.conductance(e, asg).collect()}
    # each side: vol 7 (degrees 2+2+3), one cut edge, phi = 1/7
    for c in (10, 20):
        assert rows[c]["vol"] == 7 and rows[c]["cut"] == 1
        assert rows[c]["phi_micro"] == round(1 / 7 * 1e6)


def test_conductance_whole_graph_community_zero_denominator(spark):
    # a community holding every endpoint has vol = 2m -> phi 0 by convention
    e = _edges(spark, [(1, 2), (2, 3)])
    asg = spark.createDataFrame([(1, 7), (2, 7), (3, 7)], ["id", "community"])
    rows = gds.conductance(e, asg).collect()
    assert len(rows) == 1 and rows[0]["phi_micro"] == 0 and rows[0]["cut"] == 0


def test_topological_layers_diamond(spark):
    e = _edges(spark, [(1, 2), (1, 3), (3, 4), (2, 4), (4, 5)])
    n = _nodes(spark, [1, 2, 3, 4, 5])
    out = {r["id"]: r["layer"] for r in gds.topological_layers(e, n).collect()}
    # longest path, not shortest: 4 sits at 2 via either branch, 5 at 3
    assert out == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}


def test_scc_two_cycles_and_bridge(spark):
    # cycle {1,2,3} -> 4 -> cycle {5,6}; 7 isolated. Components anchor at
    # each SCC's min id; the bridge node and the isolate are singletons.
    e = _edges(spark, [(1, 2), (2, 3), (3, 1), (3, 4), (4, 5), (5, 6), (6, 5)])
    n = _nodes(spark, [1, 2, 3, 4, 5, 6, 7])
    out = {r["id"]: r["component"] for r in gds.scc(e, n).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 4, 5: 5, 6: 5, 7: 7}


def test_scc_dag_is_all_singletons(spark):
    e = _edges(spark, [(1, 2), (2, 3), (1, 3)])
    n = _nodes(spark, [1, 2, 3])
    out = {r["id"]: r["component"] for r in gds.scc(e, n).collect()}
    assert out == {1: 1, 2: 2, 3: 3}


def test_spanning_forest_square_with_diagonal(spark):
    # square 1-2-3-4 with diagonal 1-3: MST keeps the three lightest edges
    pairs = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)]
    weights = [1.0, 2.0, 3.0, 4.0, 5.0]
    e = _edges(spark, pairs, weights=weights)
    n = _nodes(spark, [1, 2, 3, 4])
    forest = {(r["src"], r["dst"], r["weight"]) for r in gds.spanning_forest(e, n).collect()}
    assert forest == {(1, 2, 1.0), (2, 3, 2.0), (3, 4, 3.0)}


def test_spanning_forest_two_components_and_tie_break(spark):
    # two disjoint triangles, all weights equal: the (w, src, dst) total
    # order picks the lexicographically smallest edges deterministically
    pairs = [(1, 2), (2, 3), (1, 3), (7, 8), (8, 9), (7, 9)]
    weights = [1.0] * 6
    e = _edges(spark, pairs, weights=weights)
    n = _nodes(spark, [1, 2, 3, 7, 8, 9])
    rows = gds.spanning_forest(e, n).collect()
    # a forest over two 3-node components has exactly 4 edges
    assert len(rows) == 4
    forest_edges = [(r["src"], r["dst"]) for r in rows]
    # acyclic + spanning: WCC over the forest equals WCC over the graph
    fe = spark.createDataFrame(forest_edges, ["src", "dst"])
    full = {r["id"]: r["comp"] for r in gds.wcc(e.select("src", "dst"), n).collect()}
    tree = {r["id"]: r["comp"] for r in gds.wcc(fe, n).collect()}
    assert full == tree


def test_spanning_forest_isolated_nodes_yield_no_edges(spark):
    e = _edges(spark, [(1, 2)], weights=[2.0])
    n = _nodes(spark, [1, 2, 99])
    rows = gds.spanning_forest(e, n).collect()
    assert {(r["src"], r["dst"]) for r in rows} == {(1, 2)}


def test_fastrp_structural_equivalence_and_determinism(spark):
    # two structurally equivalent leaves hanging off the same hub get
    # IDENTICAL embeddings after round 1 (their in-neighborhood is {hub}),
    # and the hash-seeded init makes repeated runs bit-identical
    e = _edges(spark, [(1, 2), (1, 3), (2, 1), (3, 1)])
    n = _nodes(spark, [1, 2, 3])
    out = gds.fastrp(e, n, dim=4, weights=(1.0, 0.5))
    got = {(r["id"], r["j"]): r["v"] for r in out.collect()}
    for j in range(4):
        assert got[(2, j)] == got[(3, j)]  # same in-neighborhood -> same emb
    again = {(r["id"], r["j"]): r["v"] for r in gds.fastrp(e, n, dim=4, weights=(1.0, 0.5)).collect()}
    assert got == again


def test_fastrp_isolated_node_is_zero_vector(spark):
    e = _edges(spark, [(1, 2)])
    n = _nodes(spark, [1, 2, 9])
    out = {(r["id"], r["j"]): r["v"] for r in gds.fastrp(e, n, dim=3, weights=(1.0,)).collect()}
    assert all(out[(9, j)] == 0.0 for j in range(3))
    # node 2's embedding after one round is exactly node 1's +-1 init
    assert all(out[(2, j)] in (1.0, -1.0) for j in range(3))


def test_kmeans_matches_brute_force_lloyd(spark):
    """Quantized Lloyd on random-ish 2-D points == a numpy reimplementation
    with identical quantization/seeding/tie rules. The oracle rounds
    HALF-AWAY-FROM-ZERO to match the engine's Spark F.round (HALF_UP,
    DuckDB-compatible) — Python round/np.round are half-to-even and would
    diverge whenever a centroid mean lands exactly on .5 (r6 ADVICE)."""
    import math

    import numpy as np

    def half_up(v: float) -> int:
        return int(math.floor(v + 0.5)) if v >= 0 else -int(math.floor(-v + 0.5))

    rng = [(i, float(((i * 37) % 97) / 10.0), float(((i * 61) % 89) / 10.0)) for i in range(40)]
    pts_long = [(i, 0, x) for i, x, _ in rng] + [(i, 1, y) for i, _, y in rng]
    pts = spark.createDataFrame(pts_long, ["id", "j", "v"])
    got = {
        r["id"]: r["cluster"]
        for r in gds.kmeans(pts, k=4, max_iter=3).collect()
    }

    q = {i: np.array([half_up(x * 1000), half_up(y * 1000)], dtype=np.int64) for i, x, y in rng}
    cent = {i: q[i].copy() for i in range(4)}  # k lowest ids
    for _ in range(3):
        assign = {}
        for i, v in q.items():
            best = min(
                ((int(((v - c) ** 2).sum()), cid) for cid, c in cent.items())
            )
            assign[i] = best[1]
        new = {}
        for cid in cent:
            members = [q[i] for i, a in assign.items() if a == cid]
            if members:
                new[cid] = np.array(
                    [half_up(m) for m in np.mean(members, axis=0)], dtype=np.int64
                )
            else:
                new[cid] = cent[cid]
        cent = new
    assert got == assign


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """A far-away seed that captures nothing must survive via COALESCE
    (assignment stays total and deterministic)."""
    pts_long = []
    for i in range(6):
        pts_long += [(i, 0, 0.0 + i * 0.001), (i, 1, 0.0)]
    # id 0..1 seeds; all points sit near origin so seed 1 may go empty —
    # the run must still return one cluster per point, from the seed set.
    pts = spark.createDataFrame(pts_long, ["id", "j", "v"])
    out = gds.kmeans(pts, k=2, max_iter=2).collect()
    assert len(out) == 6
    assert {r["cluster"] for r in out} <= {0, 1}


def test_node2vec_walk_matches_replica_minhash_oracle(spark):
    """The biased walk == a hashlib reimplementation of the same
    replica-minhash rule on a small undirected graph."""
    import hashlib

    pairs = [(1, 2), (2, 3), (3, 4), (2, 4), (4, 5), (1, 3)]
    e = _edges(spark, pairs)
    got = {
        (r["walk_id"], r["step"]): r["id"]
        for r in gds.node2vec_walk(
            e, _nodes(spark, [1, 5]), steps=4, undirected=True
        ).collect()
    }

    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    wr, wc, wf = 4, 2, 1
    exp = {}
    for w0 in (1, 5):
        prev, cur = None, w0
        exp[(w0, 0)] = w0
        for k in range(1, 5):
            best = None
            for x in sorted(adj.get(cur, ())):
                m = wr if x == prev else (wc if prev is not None and x in adj.get(prev, ()) else wf)
                for j in range(1, m + 1):
                    h = hashlib.md5(f"n2v|{k}|{w0}|{cur}|{x}|{j}".encode()).hexdigest()
                    if best is None or h < best[0]:
                        best = (h, x)
            prev, cur = cur, best[1]
            exp[(w0, k)] = cur
    assert got == exp


def test_node2vec_bias_weights_shift_distribution(spark):
    """With an overwhelming return weight the walk must backtrack: from a
    path graph 1-2-3, step 2 with w_return>>others returns to 1."""
    e = _edges(spark, [(1, 2), (2, 3), (2, 4), (2, 5), (2, 6)])
    out = {
        (r["walk_id"], r["step"]): r["id"]
        for r in gds.node2vec_walk(
            e, _nodes(spark, [1]), steps=2, w_return=4000, w_common=1, w_far=1,
            undirected=True,
        ).collect()
    }
    assert out[(1, 1)] == 2
    # 4000 return replicas vs 4 far replicas: P(return)=4000/4004; the
    # fixed salt realizes the overwhelmingly likely branch determinis-
    # tically — if not, the draw machinery is broken, not unlucky.
    assert out[(1, 2)] == 1


def test_k_shortest_paths_matches_dfs_bruteforce(spark):
    """Weighted K-shortest loopless paths == exhaustive DFS enumeration
    with the same (cost, path-string) ranking."""
    wedges = [(1, 2, 4), (1, 3, 1), (3, 2, 1), (2, 4, 1), (3, 4, 5), (1, 4, 9), (2, 3, 1)]
    from docker_neo4j_spark.operators import paths as P

    e = spark.createDataFrame(wedges, ["src", "dst", "w"])
    seeds = _nodes(spark, [1])
    got = {
        (r["start_id"], r["end_id"], r["rank"]): (r["cost"], r["path_str"])
        for r in P.k_shortest_paths(e, seeds, k=3, max_hops=5, weight_col="w").collect()
    }

    adj = {}
    for s, d, w in wedges:
        adj.setdefault(s, []).append((d, w))
    found = []  # (end, cost, path_str)

    def dfs(node, seen, cost, path):
        if len(path) > 1:
            found.append((node, cost, "->".join(map(str, path))))
        if len(path) > 5:
            return
        for d, w in adj.get(node, []):
            if d not in seen:
                dfs(d, seen | {d}, cost + w, path + [d])

    dfs(1, {1}, 0, [1])
    exp = {}
    by_end = {}
    for end, cost, ps in sorted(found, key=lambda t: (t[0], t[1], t[2])):
        by_end.setdefault(end, []).append((cost, ps))
    for end, lst in by_end.items():
        for rank, (cost, ps) in enumerate(lst[:3], start=1):
            exp[(1, end, rank)] = (cost, ps)
    assert got == exp


def test_leiden_splits_disconnected_louvain_communities(spark):
    """Two triangles joined only through a hub that louvain may claim:
    every leiden community must induce a CONNECTED subgraph (the Leiden
    guarantee), and refinement never merges distinct louvain communities."""
    pairs = [(1, 2), (2, 3), (1, 3), (4, 5), (5, 6), (4, 6), (3, 7), (4, 7)]
    e = _edges(spark, pairs)
    nodes = _nodes(spark, list(range(1, 8)))
    out = {r["id"]: r["community"] for r in gds.leiden(e, nodes).collect()}
    assert set(out) == set(range(1, 8))

    adj = {}
    for s, d in pairs:
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    from collections import deque

    comms = {}
    for n, c in out.items():
        comms.setdefault(c, set()).add(n)
    for members in comms.values():
        seen = set()
        q = deque([next(iter(members))])
        seen.add(q[0])
        while q:
            u = q.popleft()
            for v in adj.get(u, ()):
                if v in members and v not in seen:
                    seen.add(v)
                    q.append(v)
        assert seen == members, f"disconnected community {members}"
    # refinement only splits: members of one leiden community share a
    # louvain community
    lv = {r["id"]: r["community"] for r in gds.louvain(e, nodes).collect()}
    for members in comms.values():
        assert len({lv[m] for m in members}) == 1


def test_link_prediction_closed_form(spark):
    """Scores on a hand-checked graph: 1-2, 1-3, 2-3, 2-4, 3-4 (kite).
    Pair (1,4): common = {2,3} (deg 3 each); pair (1,2): common = {3}."""
    import math

    e = _edges(spark, [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)])
    pairs = spark.createDataFrame([(1, 4), (1, 2)], ["a", "b"])
    got = {(r["a"], r["b"]): r for r in gds.link_prediction(e, pairs).collect()}

    r14 = got[(1, 4)]
    assert r14["common_neighbors"] == 2
    assert r14["total_neighbors"] == 2 + 2 - 2  # deg(1)=2, deg(4)=2
    assert r14["pref_attachment"] == 4
    assert abs(r14["resource_alloc"] - (1 / 3 + 1 / 3)) < 1e-12
    assert abs(r14["adamic_adar"] - 2 / math.log(3)) < 1e-12

    r12 = got[(1, 2)]
    assert r12["common_neighbors"] == 1
    assert r12["total_neighbors"] == 2 + 3 - 1
    assert r12["pref_attachment"] == 6
    assert abs(r12["resource_alloc"] - 1 / 3) < 1e-12


def test_sllpa_overlapping_membership(spark):
    """Two triangles sharing a bridge node: the bridge can belong to both
    communities (overlap single-membership LPA can't express); every node
    keeps its memory total = 1 + rounds-with-neighbors."""
    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
    e = _edges(spark, pairs)
    nodes = _nodes(spark, list(range(1, 7)))
    out = gds.sllpa(e, nodes, rounds=6, threshold_num=1, threshold_den=10)
    rows = out.collect()
    by_node = {}
    for r in rows:
        by_node.setdefault(r["id"], set()).add(r["label"])
    assert set(by_node) == set(range(1, 7))
    # determinism: a second run returns the identical membership set
    again = {
        (r["id"], r["label"], r["cnt"])
        for r in gds.sllpa(e, nodes, rounds=6, threshold_num=1, threshold_den=10).collect()
    }
    assert again == {(r["id"], r["label"], r["cnt"]) for r in rows}
    # at least one node overlaps (belongs to ≥2 labels) at this loose threshold
    assert any(len(ls) >= 2 for ls in by_node.values())


def test_influence_maximization_matches_bruteforce(spark):
    """Greedy IC seed selection == a hashlib/NetworkX-free Python
    reimplementation of the identical deterministic cascades."""
    import hashlib

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6), (2, 7)]
    k, p_num, p_den, n_sims, depth, salt = 2, 1, 2, 4, 4, "celf"
    e = _edges(spark, pairs)
    nodes = _nodes(spark, list(range(1, 8)))
    got = [
        (r["rank"], r["id"], r["spread_gain_x_sims"])
        for r in gds.influence_maximization(
            e, nodes, k=k, p_num=p_num, p_den=p_den, n_sims=n_sims,
            max_depth=depth, salt=salt,
        ).orderBy("rank").collect()
    ]

    sym = set()
    for s, d in pairs:
        sym.add((s, d))
        sym.add((d, s))
    thr = (p_num * 0x10000) // p_den
    alive = {
        s: {
            (u, v)
            for (u, v) in sym
            if int(hashlib.md5(f"{salt}|{s}|{u}|{v}".encode()).hexdigest()[:4], 16) < thr
        }
        for s in range(n_sims)
    }

    def reach(seedset, s):
        seen, frontier = set(seedset), set(seedset)
        for _ in range(depth):
            nxt = {v for u in frontier for (uu, v) in alive[s] if uu == u} - seen
            if not nxt:
                break
            seen |= nxt
            frontier = nxt
        return seen

    chosen, exp = [], []
    base = {s: set() for s in range(n_sims)}
    for rank in range(1, k + 1):
        best = None
        for cand in [x for x in range(1, 8) if x not in chosen]:
            gain = sum(len(reach({cand}, s) - base[s]) for s in range(n_sims))
            if best is None or (gain, -cand) > (best[0], -best[1]):
                best = (gain, cand)
        chosen.append(best[1])
        exp.append((rank, best[1], best[0]))
        base = {s: reach(set(chosen), s) for s in range(n_sims)}
    assert got == exp


def test_k1coloring_proper_and_deterministic(spark):
    """The returned coloring is PROPER (no monochrome edge) on an odd
    cycle + chords, uses few colors, and reruns identically."""
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5), (5, 1), (1, 3), (2, 5)]
    e = _edges(spark, pairs)
    nodes = _nodes(spark, [1, 2, 3, 4, 5])
    got = {r["id"]: r["color"] for r in gds.k1coloring(e, nodes).collect()}
    assert set(got) == {1, 2, 3, 4, 5}
    for s, d in pairs:
        assert got[s] != got[d], f"monochrome edge {s}-{d}"
    assert max(got.values()) <= 3  # ≤ maxdeg, and this graph 3-colors
    again = {r["id"]: r["color"] for r in gds.k1coloring(e, nodes).collect()}
    assert again == got


def test_hashgnn_minhash_locality(spark):
    """Min-hash selection is Jaccard-sensitive: twin nodes with identical
    neighborhoods get identical embeddings; embeddings are deterministic
    and bounded by n_slots features."""
    pairs = [(1, 3), (2, 3), (3, 4), (4, 5)]  # 1 and 2 are twins into 3
    e = _edges(spark, pairs)
    nodes = _nodes(spark, [1, 2, 3, 4, 5])
    out = {
        r["id"]: r["emb"]
        for r in gds.hashgnn(e, nodes, n_features=16, n_slots=8, iterations=2).collect()
    }
    assert set(out) == {1, 2, 3, 4, 5}
    for emb in out.values():
        assert 1 <= len(emb.split(",")) <= 8
    again = {
        r["id"]: r["emb"]
        for r in gds.hashgnn(e, nodes, n_features=16, n_slots=8, iterations=2).collect()
    }
    assert again == out


def test_bfs_tree_parents(spark):
    """Diamond 1→{2,3}→4: dist(4)=2, parent(4)=2 (smallest equal-depth
    predecessor); seed parent NULL; tree edges reconstruct the distances."""
    e = _edges(spark, [(1, 2), (2, 4), (1, 3), (3, 4), (4, 5)])
    out = {r["id"]: (r["dist"], r["parent"]) for r in gds.bfs_tree(e, _nodes(spark, [1])).collect()}
    assert out[1] == (0, None)
    assert out[4] == (2, 2)
    assert out[5] == (3, 4)
    for nid, (dist, parent) in out.items():
        if parent is not None:
            assert out[parent][0] == dist - 1


def test_betweenness_directed_path(spark, betweenness_sum):
    """Directed 0->1->2 with source {0}: Brandes gives delta(1) = 1
    (sigma_1/sigma_2 * (1 + 0)); the array-state backward sweep must walk
    the PREDECESSOR relation (edge v->w), not w's out-edges — a directed
    chain has no out-edges from the deepest node, so the successor-join
    form silently returned bc(1) = 0 (r7 review regression)."""
    e = spark.createDataFrame([(0, 1), (1, 2)], ["src", "dst"])
    nodes = _nodes(spark, [0, 1, 2])
    sources = spark.createDataFrame([(0,)], ["id"])
    got = {
        r["id"]: r["bc"]
        for r in gds.betweenness(e, sources, max_depth=4, undirected=False).collect()
    }
    assert got.get(1) == 1.0
    assert got.get(2, 0.0) == 0.0
    # diamond 0->{1,2}->3: sigma(3)=2, each middle node carries 0.5
    e2 = spark.createDataFrame([(0, 1), (0, 2), (1, 3), (2, 3)], ["src", "dst"])
    got2 = {
        r["id"]: r["bc"]
        for r in gds.betweenness(
            e2, sources, max_depth=4, undirected=False
        ).collect()
    }
    assert got2.get(1) == 0.5 and got2.get(2) == 0.5


def test_bellman_ford_flags_negative_cycle(spark):
    """a→b→c→a sums to −1: every node on/through the cycle loses its
    distance and gets the flag; the off-cycle sink d (reachable from the
    cycle) is tainted too."""
    from docker_neo4j_spark.operators import gds

    edges = spark.createDataFrame(
        [(1, 2, 2), (2, 3, -4), (3, 1, 1), (3, 4, 5)],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r["id"]: r for r in gds.bellman_ford(edges, seeds, max_iter=8).collect()}
    assert all(out[i]["on_negative_cycle"] for i in (1, 2, 3, 4))
    assert all(out[i]["dist"] is None for i in (1, 2, 3, 4))


def test_bellman_ford_negative_weights_no_cycle(spark):
    """Negative weights on a DAG: exact shortest distances, no flags."""
    from docker_neo4j_spark.operators import gds

    edges = spark.createDataFrame(
        [(1, 2, 5), (1, 3, 2), (3, 2, -4), (2, 4, 1)],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r["id"]: r for r in gds.bellman_ford(edges, seeds).collect()}
    assert not any(r["on_negative_cycle"] for r in out.values())
    assert (out[2]["dist"], out[3]["dist"], out[4]["dist"]) == (-2, 2, -1)


def test_bellman_ford_bound_below_fixpoint_raises(spark):
    """A cycle-free 6-hop chain with max_iter=2: still-improvable nodes
    prove nothing about cycles, so the caller-bound stop must raise
    rather than flag them on_negative_cycle (ADVICE r8)."""
    from docker_neo4j_spark.operators import gds

    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(1, 7)], "src long, dst long, weight long"
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    with pytest.raises(ValueError, match="fixpoint"):
        gds.bellman_ford(edges, seeds, max_iter=2)
    # default (V-1) bound settles the same chain with no flags
    out = {r["id"]: r for r in gds.bellman_ford(edges, seeds).collect()}
    assert not any(r["on_negative_cycle"] for r in out.values())
    assert out[7]["dist"] == 6


def test_dag_longest_path_exact(spark):
    """Diamond DAG: longest (not shortest) path distance per node."""
    from docker_neo4j_spark.operators import gds

    edges = spark.createDataFrame(
        [(1, 2, 1), (1, 3, 10), (2, 4, 1), (3, 4, 1), (4, 5, 2)],
        "src long, dst long, weight long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r["id"]: r["dist"] for r in gds.dag_longest_path(edges, seeds).collect()}
    assert out == {1: 0, 2: 1, 3: 10, 4: 11, 5: 13}


def test_rwr_sample_deterministic_and_bounded(spark):
    """RWR sampling: total visits == walks × (steps+1); sink-only graphs
    keep every walk oscillating through the seed (restart on stuck); the
    hash draws make two runs identical."""
    from docker_neo4j_spark.operators import gds

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 1), (3, 4)], "src long, dst long"
    )
    a = {(r.id, r.visits) for r in gds.rwr_sample(edges, 1, walks=4, steps=10).collect()}
    b = {(r.id, r.visits) for r in gds.rwr_sample(edges, 1, walks=4, steps=10).collect()}
    assert a == b
    assert sum(v for _, v in a) == 4 * 11
    assert {i for i, _ in a} <= {1, 2, 3, 4}
    # a graph with ONLY a sink: every step restarts to the seed
    sink = spark.createDataFrame([(7, 8)], "src long, dst long")
    out = {r.id: r.visits for r in gds.rwr_sample(sink, 9, walks=2, steps=5, undirected=False).collect()}
    assert out == {9: 12}


def test_ktruss_peels_to_cohesive_core(spark):
    """4-truss: a K4 survives (every edge in 2 triangles), a lone
    triangle and pendant edges peel away; cascade peeling handled."""
    from docker_neo4j_spark.operators import gds

    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    lone_triangle = [(10, 11), (11, 12), (10, 12)]
    pendant = [(1, 99)]
    edges = spark.createDataFrame(
        k4 + lone_triangle + pendant, "src long, dst long"
    )
    got = {(r.src, r.dst) for r in gds.ktruss(edges, k=4).collect()}
    assert got == set(k4)
    # k=3: any triangle edge survives; pendant still peels
    got3 = {(r.src, r.dst) for r in gds.ktruss(edges, k=3).collect()}
    assert got3 == set(k4) | set(lone_triangle)
    # a graph with no triangles fully peels at k>=3
    path = spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")
    assert gds.ktruss(path, k=3).count() == 0


def test_dfs_preorder_matches_sequential_dfs(spark):
    """dfs_preorder (min-path BSP) == textbook sequential DFS with
    ascending neighbor order, on a graph with converging paths where the
    deep-first order differs from BFS: 1→{2,5}, 2→{5,7}, 7→{5,8}."""
    from docker_neo4j_spark.operators import gds

    edges = spark.createDataFrame(
        [(1, 2), (1, 5), (2, 5), (2, 7), (7, 5), (7, 8)],
        "src long, dst long",
    )
    seeds = spark.createDataFrame([(1,)], "id long")
    out = {r["id"]: r for r in gds.dfs_preorder(edges, seeds).collect()}
    # sequential DFS from 1 ascending: 1, 2, 5 (via 2!), 7, 8
    assert out[1]["pre"] == 0 and out[1]["path"] == [1]
    assert out[2]["pre"] == 1 and out[2]["path"] == [1, 2]
    assert out[5]["pre"] == 2 and out[5]["path"] == [1, 2, 5]  # deep beats 1→5
    assert out[7]["pre"] == 3 and out[7]["path"] == [1, 2, 7]
    assert out[8]["pre"] == 4 and out[8]["path"] == [1, 2, 7, 8]
    # parent's path is a prefix of every descendant's (tree property)
    for r in out.values():
        assert r["path"][-1] == r["id"]
