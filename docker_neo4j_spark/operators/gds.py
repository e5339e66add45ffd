"""Graph algorithms (the reference surface's gds.* — SURVEY.md §2.B.10).

BSP-on-DataFrames design: every iterative algorithm is a driver-side loop
over a small state DataFrame (id → value) with ``localCheckpoint`` each
round to truncate lineage (without it, plan depth grows linearly and the
optimizer re-walks the whole history every iteration). Convergence checks
are aggregated scalars or exchange-free ``isEmpty`` probes — never a
collect of data rows.

Every kernel that pins or checkpoints gets its frame lifetimes from one
``_mem.scope``: each pin (a lazy ``localCheckpoint``, read by every round
as a leaf of materialized rows) and each checkpoint goes through the
scope's ``BSPLoop``; the state one round behind is released once the new
one has materialized (``advance``), a nested kernel's result once it is
folded in (``free``), and on exit (including on error) the scope frees
every pin and checkpoint the result does not read.

The kernels opened with ``_mem.bsp`` also share its superstep template:
the loop body runs under the static planner at a width derived from the
bytes its rounds move (edge-frame size × per-node state slots); the edge
frame is pinned repartitioned by the per-round join key; each round
joins the ``shuffle_hash``-hinted state side against it (the state is
hash(id)-partitioned by last round's groupBy, so neither side is
exchanged), aggregates by node id and checkpoints. ``BSPLoop.fixpoint``
is the checkpoint + flag-probe loop most label/frontier kernels share.
The other kernels plan under the session planner (AQE on).

Scale notes (100 TB):
- state frames are (id, value) — tiny next to the edge set, which never
  moves after it is pinned;
- each BSP round is one shuffle on the node id (groupBy min/sum) — the
  textbook Pregel cost model;
- triangle counting / node similarity are bounded block joins (co-group by
  shared neighbor), never all-pairs.

Algorithms are the public textbook constructions (Pregel/BSP BFS,
Bellman-Ford SSSP, min-label WCC, power-iteration PageRank, LPA,
neighbor-set Jaccard similarity) expressed as DataFrame ops.
"""

from __future__ import annotations

from functools import reduce

from ..localframe import local_df

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._mem import bsp, scope


def _union(frames: list[DataFrame]) -> DataFrame:
    """Union by name of per-level frames, in order."""
    return reduce(lambda a, b: a.unionByName(b), frames)


def _improved(state: DataFrame, *cols: str) -> DataFrame:
    """Frontier of a relaxation fixpoint: the whole seed in round 1, then
    the rows last round's merge flagged ``_imp``."""
    if "_imp" not in state.columns:
        return state
    return state.where("_imp").select("id", *cols)


def undirect(edges: DataFrame) -> DataFrame:
    """(src,dst) ∪ (dst,src) — view a directed edge set as undirected."""
    e = edges.select("src", "dst")
    return e.unionByName(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))


def bfs(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 20,
    undirected: bool = False,
) -> DataFrame:
    """Unweighted BFS distances: (id, dist) for every reachable node.

    Frontier-style BSP: each superstep expands the frontier one hop and
    anti-joins out already-visited nodes, so a node is emitted exactly at
    its minimum depth.

    ``sources``: DataFrame with an ``id`` column (dist 0 seeds).
    """
    with bsp(edges) as loop:
        e = loop.pin(undirect(edges) if undirected else edges.select("src", "dst"), "src")
        frontier = loop.ckpt(sources.select("id").distinct())
        # One checkpoint per level (the frontier); `visited` and the result
        # stay lazy unions of the already-materialized levels, so each
        # superstep materializes only the new frontier instead of frontier +
        # full dist.
        levels = [frontier.select("id", F.lit(0).cast("long").alias("dist"))]
        visited = frontier
        for depth in range(1, max_depth + 1):
            # (r14 note: a lazy-checkpoint + count() fusion was A/B-measured
            # SLOWER here — the count adds a partial/final aggregate exchange
            # per level, while the eager checkpoint materializes through a
            # plain RDD job and isEmpty is an exchange-free take(1).)
            nxt = loop.ckpt(
                loop.join(frontier, e)
                .select(F.col("dst").alias("id"))
                .distinct()
                .join(visited, "id", "left_anti")
            )
            if nxt.isEmpty():
                break
            levels.append(nxt.select("id", F.lit(depth).cast("long").alias("dist")))
            visited = visited.unionByName(nxt)
            frontier = nxt
        return loop.result(_union(levels))


def sssp(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 30,
    return_converged: bool = False,
) -> DataFrame:
    """Weighted single-source shortest paths (Bellman-Ford BSP): (id, dist).

    ``edges``: (src, dst, <weight_col>); negative weights allowed, negative
    cycles bounded by ``max_iter``. Integer weights stay exact end-to-end.
    With ``return_converged=True`` returns ``(dist, converged)`` where
    ``converged`` is True iff the frontier emptied (fixpoint) rather than
    ``max_iter`` stopping the loop — callers that run a negative-cycle
    detection pass need the distinction (a bound-stopped run still has
    improvable nodes on perfectly cycle-free graphs).
    """
    with bsp(edges) as loop:
        e = loop.pin(edges.select("src", "dst", F.col(weight_col).alias("_w")), "src")

        # Delta/frontier Bellman-Ford: only nodes whose distance improved
        # last round relax their out-edges — classic full Bellman-Ford
        # re-relaxed every settled node every round (|settled|×deg join work
        # per round) and needed a separate convergence-check job; here the
        # improved frontier IS the convergence check (empty → fixpoint).
        # One merge per superstep (r14, guide §2.4): improvement check and
        # dist merge are a single full-outer join + eager checkpoint.
        def relax(dist: DataFrame) -> DataFrame:
            cand = (
                loop.join(_improved(dist, "dist"), e)
                .select(F.col("dst").alias("id"), (F.col("dist") + F.col("_w")).alias("_new"))
                .groupBy("id")
                .agg(F.min("_new").alias("_new"))
            )
            imp = F.col("_new").isNotNull() & (
                F.col("dist").isNull() | (F.col("_new") < F.col("dist"))
            )
            return dist.join(cand, "id", "full").select(
                "id",
                F.when(imp, F.col("_new")).otherwise(F.col("dist")).alias("dist"),
                imp.alias("_imp"),
            )

        seed = sources.select("id", F.lit(0).cast("long").alias("dist"))
        dist = loop.result(loop.fixpoint(seed, relax, max_iter, "_imp").select("id", "dist"))
        if return_converged:
            return dist, loop.converged
        return dist


def bellman_ford(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iter: int | None = None,
) -> DataFrame:
    """gds.bellmanFord parity: weighted SSSP with negative weights AND
    negative-cycle detection — (id, dist, on_negative_cycle).

    The relaxation loop is ``sssp`` (frontier Bellman-Ford). Detection is
    the textbook extra pass: after the loop reaches fixpoint, one more
    relaxation round finds any node that can still improve — possible
    only on/through a negative cycle. Those nodes' REACHABLE set (an
    unweighted BFS taint — shortest distances are undefined downstream
    of a negative cycle, gds.bellmanFord's semantics) gets ``dist =
    NULL`` and the flag set. On a negative-cycle-free graph the
    detection pass is one empty-join job.

    ``max_iter`` defaults to V-1 (V = distinct node count — one cheap
    count job), the textbook bound after which any remaining improvement
    proves a negative cycle. A caller-supplied bound that stops the loop
    before fixpoint raises instead of misreporting still-improvable
    nodes as cycle members: on a cycle-free graph whose shortest-path
    hop count exceeds the bound, those nodes are NOT on a cycle, just
    unsettled.
    """
    v_bound = max(
        1,
        edges.select(F.col("src").alias("id"))
        .unionByName(edges.select(F.col("dst").alias("id")))
        .distinct()
        .count()
        - 1,
    )
    if max_iter is None:
        max_iter = v_bound
    with scope() as loop:
        dist, converged = sssp(edges, sources, weight_col, max_iter, return_converged=True)
        if not converged and max_iter < v_bound:
            # Stopped by a caller bound below V-1: still-improvable nodes prove
            # nothing about cycles (a cycle-free path can simply be longer than
            # the bound in hops) — refuse rather than misflag.
            raise ValueError(
                f"bellman_ford: relaxation did not reach fixpoint within "
                f"max_iter={max_iter} < V-1={v_bound} rounds — a negative cycle "
                f"is only provable after V-1 rounds; raise max_iter (or leave it "
                f"None for the V-1 default)"
            )
        e = edges.select("src", "dst", F.col(weight_col).alias("_w"))
        cand = (
            dist.join(e, dist["id"] == e["src"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("_w")).alias("_d2"))
            .groupBy("id")
            .agg(F.min("_d2").alias("_d2"))
        )
        still_improving = loop.ckpt(
            cand.join(dist, "id").where(F.col("_d2") < F.col("dist")).select("id")
        )
        if still_improving.isEmpty():
            return loop.result(
                dist.select("id", "dist", F.lit(False).alias("on_negative_cycle"))
            )
        tainted = bfs(edges, still_improving, max_depth=max_iter).select("id")
        return loop.result(
            dist.join(tainted.withColumn("_t", F.lit(True)), "id", "left")
            .select(
                "id",
                F.when(F.col("_t"), F.lit(None).cast("long")).otherwise(F.col("dist")).alias("dist"),
                F.coalesce(F.col("_t"), F.lit(False)).alias("on_negative_cycle"),
            )
        )


def dag_longest_path(
    edges: DataFrame,
    sources: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 30,
) -> DataFrame:
    """gds.dag.longestPath parity: longest weighted path distance from the
    source set to every reachable node — (id, dist). Defined on DAGs;
    on a cyclic graph the loop is bounded by ``max_iter`` (the GDS
    procedure refuses cycles up front; a distributed cycle check is the
    topological-layers fixpoint, so callers wanting the strict contract
    compose ``topological_layers`` first).

    Same frontier BSP as ``sssp`` with max-relaxation: only nodes whose
    longest distance grew last round re-relax their out-edges; on a DAG
    that is ≤ longest-hop-count supersteps, each one edge-partitioned
    join + groupBy-max shuffle.
    """
    with bsp(edges) as loop:
        e = loop.pin(edges.select("src", "dst", F.col(weight_col).alias("_w")), "src")

        # Same fused superstep as ``sssp`` (r14), max-relaxation.
        def relax(dist: DataFrame) -> DataFrame:
            cand = (
                loop.join(_improved(dist, "dist"), e)
                .select(F.col("dst").alias("id"), (F.col("dist") + F.col("_w")).alias("_new"))
                .groupBy("id")
                .agg(F.max("_new").alias("_new"))
            )
            imp = F.col("_new").isNotNull() & (
                F.col("dist").isNull() | (F.col("_new") > F.col("dist"))
            )
            return dist.join(cand, "id", "full").select(
                "id",
                F.when(imp, F.col("_new")).otherwise(F.col("dist")).alias("dist"),
                imp.alias("_imp"),
            )

        seed = sources.select("id", F.lit(0).cast("long").alias("dist"))
        return loop.result(loop.fixpoint(seed, relax, max_iter, "_imp").select("id", "dist"))


def wcc(edges: DataFrame, nodes: DataFrame, max_iter: int = 30) -> DataFrame:
    """Weakly-connected components: (id, comp) with comp = min node id in
    the component (deterministic canonical labeling).

    Min-label propagation over the undirected edge set; each superstep is
    one groupBy-min shuffle. Converges in O(diameter) rounds.
    """
    with bsp(edges) as loop:
        e = loop.pin(undirect(edges).distinct(), "src")

        # One merged superstep (r14, guide §2.4): the union rows carry an
        # `_own` tag so the SAME groupBy-min that computes the new label also
        # recovers the old one (min over the own-tagged row), so change
        # detection needs no extra join.
        def step(comp: DataFrame) -> DataFrame:
            prop = loop.join(comp, e).select(
                F.col("dst").alias("id"), "comp", F.lit(False).alias("_own")
            )
            return (
                comp.select("id", "comp", F.lit(True).alias("_own"))
                .unionByName(prop)
                .groupBy("id")
                .agg(
                    F.min("comp").alias("comp"),
                    F.min(F.when(F.col("_own"), F.col("comp"))).alias("_old"),
                )
                .select("id", "comp", (F.col("comp") != F.col("_old")).alias("_chg"))
            )

        seed = nodes.select("id", F.col("id").alias("comp"))
        return loop.result(loop.fixpoint(seed, step, max_iter, "_chg").select("id", "comp"))


def personalized_pagerank(
    edges: DataFrame,
    sources: DataFrame,
    nodes: DataFrame,
    iterations: int = 15,
    damping: float = 0.85,
) -> DataFrame:
    """gds.pageRank with ``sourceNodes`` (personalized / topic-sensitive
    PageRank): (id, pr) with Σpr = 1; teleport and dangling mass both
    return to the uniform distribution over ``sources`` instead of all
    nodes, so rank concentrates on the sources' neighborhoods and nodes
    unreachable from them score exactly 0.

    Same per-round shape as ``pagerank`` (one edge join + one groupBy-sum
    + a scalar dangling aggregate); the teleport set rides as a small
    pinned frame unioned into each update.
    """
    with bsp(edges) as loop:
        e = edges.select("src", "dst")
        deg = e.groupBy("src").agg(F.count("*").alias("_deg")).withColumnRenamed("src", "_did")
        src_set_raw = e.select("src").distinct()
        s = loop.pin(sources.select("id").distinct())
        n_sources = s.count()
        dangling_ids = loop.pin(
            nodes.select("id").join(src_set_raw, nodes["id"] == src_set_raw["src"], "left_anti")
        )
        # Carried dangling flag (r14, guide §2.4 — same fusion as
        # ``pagerank``): every update row is tagged with "its node is
        # dangling", so the next round's dangling mass is a flag-filtered
        # aggregate over the freshly built pr frame — the per-round
        # broadcast-join scalar job is gone.
        e_deg = loop.pin(
            e.join(deg, e["src"] == deg["_did"])
            .select("src", "dst", (F.lit(1.0) / F.col("_deg")).alias("_invdeg"))
            .join(
                dangling_ids.select(F.col("id").alias("_dgid"), F.lit(True).alias("_dg")),
                F.col("dst") == F.col("_dgid"),
                "left",
            )
            .select(
                "src", "dst", "_invdeg", F.coalesce(F.col("_dg"), F.lit(False)).alias("_dang")
            ),
            "src",
        )
        teleport = loop.pin(
            s.join(
                dangling_ids.select(F.col("id").alias("_dgid"), F.lit(True).alias("_dg")),
                s["id"] == F.col("_dgid"),
                "left",
            ).select(
                "id",
                F.lit(1.0 / n_sources).alias("_t"),
                F.coalesce(F.col("_dg"), F.lit(False)).alias("_dang"),
            )
        )
        pr = loop.advance(loop.ckpt(teleport.select("id", F.col("_t").alias("pr"), "_dang")))
        # round-0 dangling mass: the start vector IS the teleport distribution
        dangling = (
            pr.where("_dang").agg(F.coalesce(F.sum("pr"), F.lit(0.0))).first()[0]
        )
        for _ in range(iterations):
            contribs = loop.join(pr, e_deg).select(
                F.col("dst").alias("id"),
                (F.col("pr") * F.col("_invdeg")).alias("c"),
                e_deg["_dang"].alias("_cdang"),
            )
            # teleport share: (1-d) plus the dangling mass re-teleported
            scale = (1.0 - damping) + damping * dangling
            # lazy checkpoint materialized by the flag-filtered dangling
            # aggregate below — one fused job per round
            pr = loop.ckpt(
                contribs.select(
                    "id", (F.lit(damping) * F.col("c")).alias("pr"), F.col("_cdang")
                )
                .unionByName(
                    teleport.select(
                        "id",
                        (F.lit(scale) * F.col("_t")).alias("pr"),
                        F.col("_dang").alias("_cdang"),
                    )
                )
                .groupBy("id")
                .agg(F.sum("pr").alias("pr"), F.max("_cdang").alias("_dang")),
                eager=False,
            )
            dangling = pr.where("_dang").agg(
                F.coalesce(F.sum("pr"), F.lit(0.0))
            ).first()[0]
            loop.advance(pr)
        return loop.result(pr.select("id", "pr"))


def wcc_star(edges: DataFrame, nodes: DataFrame, max_iter: int = 50) -> DataFrame:
    """Weakly-connected components by alternating large-star/small-star
    contraction (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14): (id, comp) with comp = min node id in the component
    — identical output contract to ``wcc``.

    Scale rationale: min-label propagation (``wcc``) needs O(diameter)
    rounds — fine on the TPC-H supply graph (diameter ≤ 4), quadratic
    pain on a 10⁶-hop path at 100 TB. Star contraction hangs every node
    under its component minimum in O(log n) rounds regardless of diameter.
    Each round is two groupBy-min + join shuffles over the shrinking edge
    list.
    """
    with scope() as loop:
        e = (
            undirect(edges)
            .where(F.col("src") != F.col("dst"))
            .distinct()
        )
        e = loop.advance(
            loop.ckpt(e.select(F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")))
        )
        for _ in range(max_iter):
            # large-star: every node connects its LARGER neighbors to the
            # minimum of its neighborhood (incl. itself)
            sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
            mins = sym.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("m"))
            large = (
                sym.join(mins, "u")
                .where(F.col("v") > F.col("u"))
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
            )
            e1 = large.where(F.col("u") != F.col("v")).distinct()
            # small-star: every node connects its smaller neighbors (and
            # itself) to the minimum of those
            sym1 = e1.unionByName(e1.select(F.col("v").alias("u"), F.col("u").alias("v")))
            sub = sym1.where(F.col("v") < F.col("u"))
            mins_s = sub.groupBy("u").agg(F.min("v").alias("m"))
            small = (
                sub.join(mins_s, "u")
                .select(F.col("v").alias("u"), F.col("m").alias("v"))
                .unionByName(mins_s.select("u", F.col("m").alias("v")))
            )
            new_e = loop.ckpt(
                small.where(F.col("u") != F.col("v"))
                .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
                .distinct()
            )
            # fixpoint: the star forest stops changing
            done = new_e.count() == e.count() and new_e.exceptAll(e).isEmpty()
            e = loop.advance(new_e)
            if done:
                break
        # at the fixpoint every edge is (member, root); isolated nodes root themselves
        comp = e.groupBy("u").agg(F.min("v").alias("comp")).withColumnRenamed("u", "id")
        roots = comp.select(F.col("comp").alias("id")).distinct().select(
            "id", F.col("id").alias("comp")
        )
        covered = comp.unionByName(roots)
        rest = nodes.select("id").join(covered, "id", "left_anti").select(
            "id", F.col("id").alias("comp")
        )
        return loop.result(covered.unionByName(rest))


def pagerank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 15,
    damping: float = 0.85,
    weight_col: str | None = None,
    tolerance: float | None = None,
) -> DataFrame:
    """Power-iteration PageRank with dangling-mass redistribution: (id, pr).

    Fixed iteration count by default; Σpr = N is preserved each round. Per
    round: one join + one groupBy-sum shuffle + one scalar aggregate for
    the dangling mass.

    ``tolerance``: gds.pageRank's convergence knob (its default shape is
    maxIterations=20, tolerance=1e-7) — stop early once the summed
    per-node rank change drops below ``tolerance × N``. Costs one extra
    id-join scalar job per round, which pays for itself whenever the graph
    converges before the iteration cap (a DAG converges in ≤ depth+1
    rounds). ``None`` = fixed-count mode, zero extra jobs.

    ``weight_col``: the gds relationshipWeightProperty analog — each
    out-edge carries weight/Σweight(src) of the node's rank instead of
    1/deg (identical when all weights are equal).
    """
    with bsp(edges) as loop:
        if weight_col is None:
            e = edges.select("src", "dst", F.lit(1.0).alias("_w"))
        else:
            e = edges.select("src", "dst", F.col(weight_col).cast("double").alias("_w"))
        deg = e.groupBy("src").agg(F.sum("_w").alias("_wsum")).withColumnRenamed("src", "_did")
        # (src, dst, w/Σw(src)) is static across iterations — join deg into
        # the edge list ONCE, partitioned by the per-round join key, instead
        # of re-joining deg inside every power iteration (15 joins → 1).
        e_deg = e.join(deg, e["src"] == deg["_did"]).select(
            "src", "dst", (F.col("_w") / F.col("_wsum")).alias("_invdeg")
        )
        n = loop.pin(nodes.select("id"))
        n_total = n.count()
        # Two static node sets, computed once and reused every round:
        # - dangling (no OUT-edges): their mass redistributes uniformly
        # - sink-only (no IN-edges): they receive exactly the base term, so
        #   the per-round update is `contribs ∪ no_in` — a union, not an
        #   N-row outer join (the join was a SortMergeJoin that re-exchanged
        #   and re-sorted all N node ids every iteration).
        # Anti-join against the DISTINCT endpoint sets (≤N rows) rather than
        # the raw edge list — the naive anti-join sort-merge-shuffles all
        # |E| edges twice just to derive two ≤N-row node sets. No broadcast
        # hint: at cluster scale the id set can exceed driver memory and the
        # planner must be free to keep the shuffle join.
        # Derived from the RAW edge frame, not e_deg: the deg join preserves
        # every endpoint, and going through e would otherwise re-run that
        # join once per distinct (e_deg itself stays an unmaterialized plan —
        # its only consumer is the pinned e_run below).
        src_set = e.select("src").distinct()
        dst_set = e.select("dst").distinct()
        dangling_ids = loop.pin(n.join(src_set, n["id"] == src_set["src"], "left_anti"))
        dangling_ids.count()
        no_in_ids = loop.pin(n.join(dst_set, n["id"] == dst_set["dst"], "left_anti"))
        no_in_ids.count()
        # Zero-weight self-rows for sink-only nodes fold the "receives
        # exactly the base term" case INTO the contribution aggregate
        # (pr·0 = 0 → base + d·0 = base, bit-identical to the old union
        # branch). The win is partitioning, not arithmetic: the update
        # becomes pure join→groupBy(id), whose output hash-partitioning
        # survives localCheckpoint, so the next round's join on pr.id needs
        # NO N-row exchange — the old unionByName erased the partitioning
        # and forced a full pr shuffle every iteration.
        #
        # r14 (guide §2.4/§1): the dst side additionally carries a static
        # `_dang` flag (dst ∈ dangling set), so the NEXT round's dangling
        # mass is a flag-filtered scalar over the freshly built pr frame —
        # no per-round broadcast build of dangling_ids, no per-round join.
        e_run = loop.pin(
            e_deg.unionByName(
                no_in_ids.select(
                    F.col("id").alias("src"),
                    F.col("id").alias("dst"),
                    F.lit(0.0).alias("_invdeg"),
                )
            )
            .join(
                dangling_ids.select(F.col("id").alias("_dgid"), F.lit(True).alias("_dg")),
                F.col("dst") == F.col("_dgid"),
                "left",
            )
            .select(
                "src", "dst", "_invdeg", F.coalesce(F.col("_dg"), F.lit(False)).alias("_dang")
            ),
            "src",
        )
        pr = loop.advance(loop.ckpt(n.select("id", F.lit(1.0).alias("pr"))))
        # Round 0 dangling mass is closed-form (every pr is 1.0): |dangling|.
        # Subsequent rounds read it from the just-materialized pr frame via
        # the carried flag. One fused job per round (r14, guide §2.4/§1.2):
        # the update is built on a LAZY localCheckpoint and the
        # flag-filtered dangling aggregate is the action that materializes
        # it — replacing the former eager-checkpoint job + broadcast-build +
        # scalar-join job per round. (The earlier measured-slower variant
        # folded the dangling mass into the update join as a broadcast
        # subquery, which blocked AQE's re-planning of the big join; this form
        # keeps the scalar read OUT of the join — it is a plain filtered
        # aggregate over the checkpointed output.)
        dangling = float(dangling_ids.count())
        for _ in range(iterations):
            base = (1.0 - damping) + damping * dangling / n_total
            contribs = (
                loop.join(pr, e_run)
                .select(
                    F.col("dst").alias("id"),
                    (F.col("pr") * F.col("_invdeg")).alias("c"),
                    e_run["_dang"],
                )
                # Group on id ALONE: the groupBy's hash(id) output
                # partitioning is what makes next round's pr⋈e_run join
                # exchange-free (the r13 contract above). `_dang` is
                # functionally determined by id (dst ∈ dangling set), so
                # max() recovers it without widening the grouping key —
                # grouping by (id,_dang) was A/B-measured SLOWER because
                # hash(id,_dang) ≠ hash(id) re-exchanged the whole pr frame
                # every iteration.
                .groupBy("id")
                .agg(F.sum("c").alias("c"), F.max("_dang").alias("_dang"))
            )
            # `_dang` is re-aliased to `_prdang` (fresh exprId): the lazy
            # checkpoint keeps the original attribute ids, so carrying
            # e_run's `_dang` id into next round's pr⋈e_run join would
            # self-collide.
            new_pr = loop.ckpt(
                contribs.select(
                    "id",
                    (F.lit(base) + F.lit(damping) * F.col("c")).alias("pr"),
                    F.col("_dang").alias("_prdang"),
                ),
                eager=False,
            )
            # Full-scan action: materializes every partition of the lazy
            # checkpoint in this same job AND yields next round's dangling
            # mass.
            dangling = new_pr.where("_prdang").agg(
                F.coalesce(F.sum("pr"), F.lit(0.0))
            ).first()[0]
            if tolerance is not None:
                delta = (
                    new_pr.join(pr.withColumnRenamed("pr", "_old"), "id")
                    .agg(F.sum(F.abs(F.col("pr") - F.col("_old"))))
                    .first()[0]
                )
            pr = loop.advance(new_pr)
            if tolerance is not None and delta is not None and delta < tolerance * n_total:
                break
        return loop.result(pr.select("id", "pr"))


def article_rank(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 15,
    damping: float = 0.85,
) -> DataFrame:
    """gds.articleRank — PageRank variant that dampens low-degree hubs:
    each out-edge carries ``pr(u) / (outDeg(u) + avgOutDeg)`` instead of
    ``pr(u) / outDeg(u)`` (avgOutDeg = |E|/|N| over the projected graph),
    so a recommendation from a 2-link page is worth less than under
    PageRank. No dangling redistribution (mass decays, per the published
    formulation): dangling nodes simply contribute nothing. Returns
    (id, pr).

    Same per-round physical shape as ``pagerank`` minus the dangling
    scalar job: ONE join + groupBy-sum whose hash partitioning survives
    ``localCheckpoint`` (zero-share self-rows keep sink-only nodes inside
    the aggregate, so no N-row union/exchange per round).
    """
    with bsp(edges) as loop:
        e = edges.select("src", "dst")
        deg = e.groupBy("src").agg(F.count("*").alias("_deg")).withColumnRenamed("src", "_did")
        n = loop.pin(nodes.select("id"))
        n_total = n.count()
        avg_deg = e.count() / n_total
        e_share = e.join(deg, e["src"] == deg["_did"]).select(
            "src",
            "dst",
            (F.lit(1.0) / (F.col("_deg").cast("double") + F.lit(avg_deg))).alias("_share"),
        )
        dst_set = e.select("dst").distinct()
        no_in_ids = n.join(dst_set, n["id"] == dst_set["dst"], "left_anti")
        e_run = loop.pin(
            e_share.unionByName(
                no_in_ids.select(
                    F.col("id").alias("src"),
                    F.col("id").alias("dst"),
                    F.lit(0.0).alias("_share"),
                )
            ),
            "src",
        )
        base = 1.0 - damping
        pr = loop.advance(loop.ckpt(n.select("id", F.lit(1.0).alias("pr"))))
        for _ in range(iterations):
            pr = loop.advance(loop.ckpt(
                loop.join(pr, e_run)
                .select(F.col("dst").alias("id"), (F.col("pr") * F.col("_share")).alias("c"))
                .groupBy("id")
                .agg(F.sum("c").alias("c"))
                .select("id", (F.lit(base) + F.lit(damping) * F.col("c")).alias("pr"))
            ))
        return loop.result(pr)


def eigenvector(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 15,
    weight_col: str | None = None,
) -> DataFrame:
    """gds.eigenvector — eigenvector centrality by L2-normalized power
    iteration: x ← Aᵀx / ‖Aᵀx‖₂ from x₀ = 1. Returns (id, score) for
    every node; nodes outside the dominant eigenspace's support (no
    in-path) are exactly 0.

    Per round: one edge join + groupBy-sum over the *live* support only
    (zeros neither contribute mass nor change the L2 norm, so dropped
    rows are re-materialized as 0 once, at the end — the state frame
    shrinks to the receiving set after round 1) + one scalar norm job.

    On a DAG the support empties after ``longest_path`` rounds (the true
    limit is the zero vector); the norm guard below stops iterating the
    moment the vector dies instead of propagating NULLs. Pass an
    undirected edge set (``gds.undirect``) for the classical symmetric
    formulation, which is the GDS default orientation use-case.
    """
    with bsp(edges) as loop:
        w = (
            F.col(weight_col).cast("double")
            if weight_col is not None
            else F.lit(1.0)
        )
        e = loop.pin(edges.select("src", "dst", w.alias("_w")), "src")
        x = loop.advance(loop.ckpt(nodes.select("id", F.lit(1.0).alias("score"))))
        for _ in range(iterations):
            # One job per round (r14, guide §2.4): the checkpoint is lazy and
            # the norm aggregate is the action that materializes it (the norm
            # scans every row, so every partition persists in that same job).
            y = loop.ckpt(
                loop.join(x, e)
                .select(F.col("dst").alias("id"), (F.col("score") * F.col("_w")).alias("m"))
                .groupBy("id")
                .agg(F.sum("m").alias("score")),
                eager=False,
            )
            norm = y.agg(F.sqrt(F.sum(F.col("score") * F.col("score")))).first()[0]
            loop.advance(y)
            if norm is None or norm == 0.0:
                x = y.limit(0)  # vector died (DAG ran out of paths): all zeros
                break
            x = y.select("id", (F.col("score") / F.lit(norm)).alias("score"))
        return loop.result(
            nodes.select("id")
            .join(x, "id", "left")
            .select("id", F.coalesce("score", F.lit(0.0)).alias("score"))
        )


def hits(
    edges: DataFrame,
    nodes: DataFrame,
    iterations: int = 8,
) -> DataFrame:
    """gds.alpha.hits — Kleinberg hubs & authorities by alternating power
    iteration: a ← normalize(Aᵀh), h ← normalize(Aa), from h₀ = 1, both
    L2-normalized every half-step (the gds hitsIterations semantics).
    Returns (id, hub, auth) for every node; nodes with no out-edges have
    hub = 0 exactly, nodes with no in-edges auth = 0 exactly.

    Cost per round: two edge joins + two groupBy-sum shuffles + two scalar
    norm jobs — the same per-round shape as ``eigenvector`` run twice. The
    edge frame is joined on ``src`` for the authority step and on ``dst``
    for the hub step, so it is pinned in BOTH partitionings once (at 100 TB
    two partitioned copies of (src,dst) beat re-shuffling the edge set
    every half-step; state frames stay (id, score), the build side of each
    half-step's join). On a DAG both vectors stay strictly positive on their support
    (unlike eigenvector's directed collapse) because each half-step reads
    the OTHER vector, so no norm-death guard is needed beyond the zero
    check.
    """
    with bsp(edges) as loop:
        e_src = loop.pin(edges.select("src", "dst"), "src")
        e_dst = loop.pin(edges.select("src", "dst"), "dst")
        h = loop.advance(loop.ckpt(nodes.select("id", F.lit(1.0).alias("hub"))), "hub")
        a = nodes.select("id", F.lit(0.0).alias("auth")).limit(0)
        for _ in range(iterations):
            # authority: a(v) = Σ_{u→v} h(u), then L2-normalize
            # lazy checkpoint materialized by the norm job — one job per
            # half-step instead of two (r14, guide §2.4); each edge copy is
            # read in place in its own partitioning.
            a_raw = loop.ckpt(
                loop.join(h, e_src)
                .select(F.col("dst").alias("id"), F.col("hub").alias("m"))
                .groupBy("id")
                .agg(F.sum("m").alias("auth")),
                eager=False,
            )
            norm_a = a_raw.agg(F.sqrt(F.sum(F.col("auth") * F.col("auth")))).first()[0]
            loop.advance(a_raw, "auth")
            if norm_a is None or norm_a == 0.0:
                a = a_raw.limit(0)
                h = h.limit(0)
                break
            a = a_raw.select("id", (F.col("auth") / F.lit(norm_a)).alias("auth"))
            # hub: h(u) = Σ_{u→v} a(v), then L2-normalize
            h_raw = loop.ckpt(
                loop.join(a, e_dst, edge_key="dst")
                .select(F.col("src").alias("id"), F.col("auth").alias("m"))
                .groupBy("id")
                .agg(F.sum("m").alias("hub")),
                eager=False,
            )
            norm_h = h_raw.agg(F.sqrt(F.sum(F.col("hub") * F.col("hub")))).first()[0]
            loop.advance(h_raw, "hub")
            if norm_h is None or norm_h == 0.0:
                h = h_raw.limit(0)
                break
            h = h_raw.select("id", (F.col("hub") / F.lit(norm_h)).alias("hub"))
        out = (
            nodes.select("id")
            .join(h.withColumnRenamed("hub", "_h"), "id", "left")
            .join(a.withColumnRenamed("auth", "_a"), "id", "left")
        )
        return loop.result(out.select(
            "id",
            F.coalesce("_h", F.lit(0.0)).alias("hub"),
            F.coalesce("_a", F.lit(0.0)).alias("auth"),
        ))


def label_propagation(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 10,
    weight_col: str | None = None,
) -> DataFrame:
    """Community detection by label propagation: (id, community).

    Synchronous LPA, labels start as node ids; each round every node takes
    the most frequent neighbor label (ties → smallest label, deterministic).
    Capped iterations — LPA has no convergence guarantee on bipartite
    structures (documented reference behavior as well).

    ``weight_col`` is gds's relationshipWeightProperty: votes sum the
    incident edge weights instead of counting edges. Integer weights keep
    the argmax exact (the catalog row casts l_quantity to BIGINT).
    """
    with bsp(edges) as loop:
        if weight_col is None:
            e = loop.pin(undirect(edges), "src")
        else:
            d = edges.select("src", "dst", F.col(weight_col).alias("_w"))
            e = loop.pin(
                d.unionByName(
                    d.select(F.col("dst").alias("src"), F.col("src").alias("dst"), "_w")
                ),
                "src",
            )
        vote = F.count("*") if weight_col is None else F.sum("_w")

        # Change detection rides the merge itself (r14, guide §2.4, as in
        # ``wcc``): the merge select computes a `_chg` flag for the
        # fixpoint's probe, so change detection needs no extra join.
        def step(lab: DataFrame) -> DataFrame:
            votes = (
                loop.join(lab, e)
                .groupBy(F.col("dst").alias("id"), "community")
                .agg(vote.alias("_n"))
            )
            # max over (n, -community): most frequent label, ties → smallest label
            best = votes.groupBy("id").agg(
                F.max_by(
                    "community",
                    F.struct(F.col("_n").alias("n"), (-F.col("community")).alias("t")),
                ).alias("_cand")
            )
            return lab.join(best, "id", "left").select(
                "id",
                F.coalesce(F.col("_cand"), F.col("community")).alias("community"),
                (
                    F.col("_cand").isNotNull() & (F.col("_cand") != F.col("community"))
                ).alias("_chg"),
            )

        seed = nodes.select("id", F.col("id").alias("community"))
        return loop.result(
            loop.fixpoint(seed, step, max_iter, "_chg").select("id", "community")
        )


def louvain(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 10
) -> DataFrame:
    """gds.louvain — modularity-based community detection: (id, community).

    Synchronous BSP form of Louvain's local-moving phase. Each round a node
    scores every candidate community C (its neighbors' communities plus its
    own) by the modularity term ΔQ ∝ k_in(v→C) − deg(v)·Σtot(C∖v)/2m —
    Σtot excludes v's own degree when C is v's current community, so
    "stay" and "move" are compared on equal footing — and adopts the argmax
    (ties → smallest community id). The score is compared through the
    monotone integer transform ``G = 2m·k_in − deg·Σtot(C∖v)`` (every term
    is an edge count), so the argmax is EXACT int64 arithmetic — no float
    rounding, and bit-identical in any engine, which is what lets
    ``gds_louvain_oracle`` pair it with an unrolled DuckDB CTE oracle.
    Two distributed-adaptation details, both standard in BSP Louvain
    (cf. Que et al., "Scalable Community Detection with the Louvain
    Algorithm", IPDPS'15):

    - **Parity gating**: only nodes whose id parity matches the iteration
      parity may move, which breaks the two-cycle where adjacent nodes
      simultaneously swap into each other's communities and never converge.
    - **No coarsening phase**: the sequential reference also contracts
      communities and recurses; one local-moving pass is the standard
      distributed surface (state stays (id, community), one groupBy + three
      joins per round).

    Stops at a fixpoint (a full even+odd pair with no moves) or ``max_iter``.
    """
    with bsp(edges) as loop:
        e = loop.pin(undirect(edges).distinct(), "src")
        two_m = e.count()  # each undirected edge counted twice = 2m
        # k_in keys the edge set on dst every round — pin that partitioning
        # once (as in ``hits``) instead of re-exchanging the edges per round.
        e_dst = loop.pin(e, "dst")
        deg = loop.pin(
            e.groupBy("src").agg(F.count("*").alias("_deg")).withColumnRenamed("src", "_did")
        )
        comm = loop.advance(loop.ckpt(nodes.select("id", F.col("id").alias("community"))))
        stable = 0
        for it in range(max_iter):
            # community degree mass Σtot(C)
            sigma = (
                loop.join(comm, deg, edge_key="_did")
                .groupBy("community")
                .agg(F.sum("_deg").alias("_sigma"))
                .withColumnRenamed("community", "cand")
            )
            # k_in(v → C): edges from v into each neighboring community, plus
            # a zero row for v's own community so "stay" is always a candidate
            # (state side hinted as in ``BSPLoop.join``, built on the right)
            nbr_comm = comm.select(F.col("id").alias("_nid"), F.col("community").alias("_c"))
            k_in = (
                e_dst.join(nbr_comm.hint("shuffle_hash"), e_dst["dst"] == nbr_comm["_nid"])
                .groupBy(F.col("src").alias("id"), F.col("_c").alias("cand"))
                .agg(F.count("*").alias("_kin"))
                .unionByName(
                    comm.select("id", F.col("community").alias("cand"), F.lit(0).cast("long").alias("_kin"))
                )
                .groupBy("id", "cand")
                .agg(F.max("_kin").alias("_kin"))
            )
            own = comm.withColumnRenamed("community", "_own")
            # exact integer gain: G = 2m·k_in − deg·(Σtot − [cand = own]·deg)
            scored = (
                k_in.join(deg, k_in["id"] == deg["_did"])
                .join(sigma, "cand")
                .join(own, "id")
                .select(
                    "id",
                    "cand",
                    "_own",
                    (
                        F.lit(int(two_m)) * F.col("_kin")
                        - F.col("_deg")
                        * (
                            F.col("_sigma")
                            - F.when(F.col("cand") == F.col("_own"), F.col("_deg")).otherwise(F.lit(0))
                        )
                    ).alias("_gain"),
                )
            )
            best = scored.groupBy("id").agg(
                F.max_by(
                    "cand", F.struct(F.col("_gain").alias("g"), (-F.col("cand")).alias("t"))
                ).alias("_best"),
            )
            movable = F.pmod(F.col("id"), F.lit(2)) == F.lit(it % 2)
            # left join keeps isolated nodes (absent from deg/k_in) in place.
            # `_chg` rides the merge (r14, guide §2.4): the move-detection
            # probe is an exchange-free take(1) instead of a join job.
            moved = movable & F.col("_best").isNotNull() & (
                F.col("_best") != F.col("community")
            )
            comm = loop.ckpt(
                comm.join(best, "id", "left").select(
                    "id",
                    F.when(movable & F.col("_best").isNotNull(), F.col("_best"))
                    .otherwise(F.col("community"))
                    .alias("community"),
                    moved.alias("_chg"),
                )
            )
            no_change = comm.where("_chg").isEmpty()
            loop.advance(comm)
            if no_change:
                stable += 1
                if stable >= 2:  # a full even+odd pair with no moves
                    break
            else:
                stable = 0
        return loop.result(comm.select("id", "community"))


def modularity(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """gds.modularity — Newman modularity of a community assignment over
    the UNDIRECTED view of ``edges``: Q = Σ_c [in_c/(2m) − (d_c/(2m))²].

    Returns ONE row ``(two_m, q_num, q_micro)`` where ``q_num`` is the
    EXACT integer numerator Q·(2m)² = 2m·Σin_c − Σd_c² (in_c counted in
    the doubled src/dst representation, d_c = Σ degree over the community)
    — all integer arithmetic, so the value is bit-identical across
    engines; ``q_micro`` = round(Q·1e6) derives from it with one division.

    Shape at scale: two broadcast-able joins of the (id, community)
    assignment into the edge list (AQE broadcasts the assignment while it
    fits; both joins key on an edge endpoint so they pipeline into the
    same scan) + two groupBy(community) partial aggregates — no all-pairs
    term anywhere, Σd_c² folds the null model analytically.
    """
    e = undirect(edges)
    asg = assignment.select("id", "community")
    lab = (
        e.join(asg.withColumnRenamed("id", "src").withColumnRenamed("community", "_cs"), "src")
        .join(asg.withColumnRenamed("id", "dst").withColumnRenamed("community", "_cd"), "dst")
    )
    per_c = lab.groupBy(F.col("_cs").alias("community")).agg(
        F.count("*").alias("_deg_sum"),
        F.sum((F.col("_cs") == F.col("_cd")).cast("long")).alias("_in"),
    )
    return per_c.agg(
        F.sum("_deg_sum").alias("two_m"),
        (
            F.sum("_deg_sum") * F.sum("_in")
            - F.sum(F.col("_deg_sum") * F.col("_deg_sum"))
        ).alias("q_num"),
    ).select(
        F.col("two_m").cast("long").alias("two_m"),
        F.col("q_num").cast("long").alias("q_num"),
        F.round(
            F.col("q_num").cast("double")
            / (F.col("two_m").cast("double") * F.col("two_m").cast("double"))
            * F.lit(1e6)
        )
        .cast("long")
        .alias("q_micro"),
    )


def conductance(edges: DataFrame, assignment: DataFrame) -> DataFrame:
    """gds.conductance — per-community cut quality over the UNDIRECTED
    view: φ(c) = cut(c) / min(vol(c), 2m − vol(c)).

    Returns (community, cut, vol, phi_micro): ``cut`` = edges with exactly
    one endpoint in c, ``vol`` = Σ degree over c (both in the doubled
    representation, so each undirected cut edge contributes 1 to each
    side's cut), ``phi_micro`` = round(φ·1e6); communities that contain
    every edge endpoint (vol = 2m) surface φ = 0 by convention.

    Same two-join + one-aggregate shape as ``modularity`` — assignment
    broadcast, single groupBy(community) shuffle.
    """
    e = undirect(edges)
    asg = assignment.select("id", "community")
    lab = (
        e.join(asg.withColumnRenamed("id", "src").withColumnRenamed("community", "_cs"), "src")
        .join(asg.withColumnRenamed("id", "dst").withColumnRenamed("community", "_cd"), "dst")
    )
    per_c = lab.groupBy(F.col("_cs").alias("community")).agg(
        F.count("*").alias("vol"),
        F.sum((F.col("_cs") != F.col("_cd")).cast("long")).alias("cut"),
    )
    total = per_c.agg(F.sum("vol").alias("_two_m"))
    den = F.least(F.col("vol"), F.col("_two_m") - F.col("vol"))
    return per_c.crossJoin(F.broadcast(total)).select(
        "community",
        F.col("cut").cast("long").alias("cut"),
        F.col("vol").cast("long").alias("vol"),
        F.when(den > 0, F.round(F.col("cut").cast("double") / den.cast("double") * F.lit(1e6)))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("phi_micro"),
    )


def topological_layers(
    edges: DataFrame, nodes: DataFrame, max_iter: int = 20
) -> DataFrame:
    """DAG topological layering: layer(v) = length of the LONGEST path
    ending at v (sources sit at 0) — the level-scheduling primitive
    (which nodes can process in parallel at step k). Returns (id, layer);
    on a cyclic input the affected nodes simply stop increasing at the
    iteration cap, so pre-check acyclicity if that matters.

    BSP: one join + groupBy-max per round, rounds = longest-path length
    (the frontier relaxes one level per superstep, like BFS with max/+1
    instead of min). State stays (id, layer)."""
    with bsp(edges) as loop:
        e = loop.pin(edges.select("src", "dst"), "src")

        # `_chg` rides the merge (r14, guide §2.4): change detection is the
        # fixpoint's flag probe instead of a join job.
        def step(lay: DataFrame) -> DataFrame:
            cand = (
                loop.join(lay, e)
                .groupBy(F.col("dst").alias("id"))
                .agg((F.max("layer") + F.lit(1)).alias("_cand"))
            )
            return lay.join(cand, "id", "left").select(
                "id",
                F.greatest(F.col("layer"), F.coalesce("_cand", F.lit(0))).alias("layer"),
                (F.coalesce("_cand", F.lit(0)) > F.col("layer")).alias("_chg"),
            )

        seed = nodes.select("id", F.lit(0).cast("long").alias("layer"))
        return loop.result(loop.fixpoint(seed, step, max_iter, "_chg").select("id", "layer"))


def _min_label_fixpoint(
    edges: DataFrame, nodes: DataFrame, max_iter: int, out: str
) -> DataFrame:
    """Propagate min node id along ``edges`` (src→dst) to a fixpoint:
    lab(v) = min({v} ∪ {lab(u) : u→v}) — "smallest id that can reach v"
    when given forward edges, "smallest id v can reach" when given the
    reversed edge set. One join + groupBy-min shuffle per round."""
    with bsp(edges) as loop:
        # Callers (scc peels, leiden refine) hand in ad-hoc edge frames; own
        # the loop partitioning here so every round's label⋈edges join is a
        # zero-exchange SHJ instead of a per-round edge exchange/broadcast.
        e = loop.pin(edges.select("src", "dst"), "src")

        # `_chg` rides the merge (r14, guide §2.4 — same fold as
        # ``wcc``/``label_propagation``).
        def step(lab: DataFrame) -> DataFrame:
            cand = (
                loop.join(lab, e)
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(out).alias("_cand"))
            )
            return lab.join(cand, "id", "left").select(
                "id",
                F.least(F.col(out), F.coalesce("_cand", F.col(out))).alias(out),
                (F.col("_cand").isNotNull() & (F.col("_cand") < F.col(out))).alias("_chg"),
            )

        seed = nodes.select("id", F.col("id").alias(out))
        return loop.result(loop.fixpoint(seed, step, max_iter, "_chg").select("id", out))


def scc(
    edges: DataFrame,
    nodes: DataFrame,
    max_peels: int = 10,
    max_iter: int = 30,
) -> DataFrame:
    """gds.scc — strongly connected components of a DIRECTED graph by
    FW-BW-MIN peeling (the BSP construction of Slota et al. / Orzan's
    coloring): per peel, fwd(v) = min id reaching v, bwd(v) = min id v
    reaches; fwd(v) = bwd(v) = c proves v and c mutually reachable, so
    those nodes retire with component = c. The global min id of the
    remaining set always satisfies the condition, so every peel retires
    ≥1 full SCC and the loop terminates; trivial (singleton) SCCs retire
    in bulk the round their neighborhoods clear. Returns (id, component),
    component = min node id of the SCC.

    Scale shape: each peel is two min-label fixpoints (one per edge
    orientation, diameter-many one-shuffle rounds each) over the LIVE
    subgraph only — retired components are semi-joined out of the edge
    set, so dense cores stop paying for the long tail. State is
    (id, label) throughout; nothing driver-side but empty-checks."""
    with scope() as loop:
        remaining = loop.advance(loop.ckpt(nodes.select("id")))
        result: DataFrame | None = None
        for _ in range(max_peels):
            if remaining.isEmpty():
                break
            er = loop.pin(
                edges.select("src", "dst")
                .join(remaining.withColumnRenamed("id", "src"), "src", "left_semi")
                .join(remaining.withColumnRenamed("id", "dst"), "dst", "left_semi")
            )
            fwd = _min_label_fixpoint(er, remaining, max_iter, "fmin")
            bwd = _min_label_fixpoint(
                er.select(F.col("dst").alias("src"), F.col("src").alias("dst")),
                remaining,
                max_iter,
                "bmin",
            )
            done = loop.ckpt(
                fwd.join(bwd, "id")
                .where(F.col("fmin") == F.col("bmin"))
                .select("id", F.col("fmin").alias("component"))
            )
            for folded in (fwd, bwd, er):
                loop.free(folded)
            result = done if result is None else result.unionByName(done)
            remaining = loop.advance(loop.ckpt(remaining.join(done, "id", "left_anti")))
        if result is None:
            return nodes.select("id", F.col("id").alias("component")).limit(0)
        # safety cap fallback: anything past max_peels keeps its own id
        leftover = remaining.select("id", F.col("id").alias("component"))
        return loop.result(loop.ckpt(result.unionByName(leftover)))


def spanning_forest(
    edges: DataFrame,
    nodes: DataFrame,
    weight_col: str = "weight",
    max_rounds: int = 15,
) -> DataFrame:
    """gds.spanningTree — minimum spanning forest by Borůvka BSP: each
    round every component selects its minimum outgoing edge (total order
    (w, src, dst) — the consistent tie-break that makes Borůvka cycle-free
    and the result deterministic even with duplicate weights), selected
    edges join the forest, touched components merge, repeat until no
    cross-component edge remains (≤ log₂|V| rounds — component count at
    least halves each round). Returns the forest edges (src, dst, weight).

    Scale shape per round: two assignment joins into the edge list (the
    (id, comp) state broadcasts while it fits) + one groupBy(component)
    min_by + a WCC over the SELECTED edges only (component-count rows,
    tiny) — the edge set is never rewritten, only relabeled through the
    state frame.
    """
    with scope() as loop:
        e = loop.pin(edges.select("src", "dst", F.col(weight_col).cast("double").alias("w")))
        comp = loop.advance(loop.ckpt(nodes.select("id", F.col("id").alias("comp"))), "comp")
        chosen: DataFrame | None = None
        # r14 (guide §2.4, §5): the former per-round ``lab.isEmpty()`` probe
        # job is gone — ``pick`` is empty exactly when no cross-component
        # edge remains (lab empty ⟹ cand empty ⟹ pick empty), so the
        # checkpointed pick doubles as the termination probe and the
        # relabel joins run ONCE per round instead of twice. Superseded
        # comp/chosen frames and each round's abandoned wcc relabel state
        # release as soon as the frames derived from them have materialized.
        for _ in range(max_rounds):
            lab = (
                e.join(
                    comp.withColumnRenamed("id", "src").withColumnRenamed("comp", "cu"),
                    "src",
                )
                .join(
                    comp.withColumnRenamed("id", "dst").withColumnRenamed("comp", "cv"),
                    "dst",
                )
                .where(F.col("cu") != F.col("cv"))
            )
            cand = lab.select(F.col("cu").alias("c"), "src", "dst", "w").unionByName(
                lab.select(F.col("cv").alias("c"), "src", "dst", "w")
            )
            pick = loop.ckpt(
                cand.groupBy("c")
                .agg(
                    F.min_by(
                        F.struct("src", "dst", "w"), F.struct("w", "src", "dst")
                    ).alias("e")
                )
                .select("e.src", "e.dst", "e.w")
                .distinct()
            )
            if pick.isEmpty():
                break
            chosen = pick if chosen is None else loop.ckpt(chosen.unionByName(pick))
            loop.advance(chosen, "chosen")
            pe = (
                pick.join(
                    comp.withColumnRenamed("id", "src").withColumnRenamed("comp", "cu"),
                    "src",
                )
                .join(
                    comp.withColumnRenamed("id", "dst").withColumnRenamed("comp", "cv"),
                    "dst",
                )
                .select(F.col("cu").alias("src"), F.col("cv").alias("dst"))
            )
            # unique column names: mapping shares lineage with comp, so joining
            # on a same-named column would be an ambiguous self-reference
            mapping = wcc(pe, comp.select(F.col("comp").alias("id")).distinct()).select(
                F.col("id").alias("_oldc"), F.col("comp").alias("_newc")
            )
            comp = loop.advance(
                loop.ckpt(comp.join(mapping, F.col("comp") == F.col("_oldc"), "left").select(
                    "id", F.coalesce("_newc", F.col("comp")).alias("comp")
                )),
                "comp",
            )
            loop.free(mapping)  # the round's wcc relabel state, now folded in
            if pick is not chosen:
                loop.free(pick)
        if chosen is None:
            return edges.select(
                "src", "dst", F.col(weight_col).cast("double").alias("weight")
            ).limit(0)
        return loop.result(chosen.select("src", "dst", F.col("w").alias("weight")))


def fastrp(
    edges: DataFrame,
    nodes: DataFrame,
    dim: int = 8,
    weights: tuple[float, ...] = (1.0, 1.0, 1.0),
    salt: str = "fastrp",
) -> DataFrame:
    """gds.fastRP — node embeddings by very sparse random projection
    (Chen et al. 2019): x₀ = deterministic ±1 projection (md5 parity of
    (salt, id, dim) — reproducible across runs and engines, unlike RNG
    seeding), then k rounds of x_k = D⁻¹A·x_{k−1} (mean over in-neighbors)
    combined as Σ weights[k]·x_k. Returns LONG FORM (id, j, v) — one row
    per (node, dimension); nodes with no in-path surface exact 0s.

    The long form IS the scale design: the state is (id, j, v) rows — a
    d-fold node frame, never a per-node array that would resist partial
    aggregation — so each round is one edge join + one groupBy(dst, j)
    mean, the exact PageRank shuffle shape replicated d times, and the
    embedding dimension scales by adding rows, not widening a column.
    """
    dims = F.sequence(F.lit(0), F.lit(dim - 1))
    with scope() as loop:
        x = loop.ckpt(nodes.select("id", F.explode(dims).alias("j")).select(
            "id",
            "j",
            F.when(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "#",
                            F.lit(salt),
                            F.col("id").cast("string"),
                            F.col("j").cast("string"),
                        )
                    ),
                    1,
                    1,
                ).isin(*"01234567"),
                F.lit(1.0),
            )
            .otherwise(F.lit(-1.0))
            .alias("v"),
        ))
        e = loop.pin(edges.select("src", "dst"), "src")
        deg_in = e.groupBy("dst").agg(F.count("*").alias("_dg")).withColumnRenamed(
            "dst", "_di"
        )
        acc: DataFrame | None = None
        for w in weights:
            nxt = (
                x.join(e, x["id"] == e["src"])
                .groupBy(F.col("dst").alias("id"), "j")
                .agg(F.sum("v").alias("_s"))
            )
            x = loop.ckpt(nxt.join(deg_in, nxt["id"] == deg_in["_di"]).select(
                "id", "j", (F.col("_s") / F.col("_dg")).alias("v")
            ))
            term = x.select("id", "j", (F.col("v") * F.lit(w)).alias("t"))
            acc = term if acc is None else acc.unionByName(term)
        res = acc.groupBy("id", "j").agg(F.sum("t").alias("v"))
        base = nodes.select("id", F.explode(dims).alias("j"))
        return loop.result(base.join(res, ["id", "j"], "left").select(
            "id", "j", F.coalesce("v", F.lit(0.0)).alias("v")
        ))


def scale_properties(
    df: DataFrame,
    value_col: str,
    scalers: tuple[str, ...] = ("minmax",),
    id_col: str = "id",
    out_scale: float = 1e6,
) -> DataFrame:
    """gds.scaleProperties — per-node feature scaling of ``value_col``.

    Supported scalers (the GDS names): ``minmax`` (x−min)/(max−min),
    ``mean`` (x−μ)/(max−min), ``max`` x/max|x|, ``stdscore`` (x−μ)/σ,
    ``log`` ln(x−min+1), ``center`` x−μ. Output: (id, <scaler>_scaled …),
    one DOUBLE column per requested scaler, each further multiplied by
    ``out_scale`` and rounded to BIGINT so results are stable across
    engines (σ and μ derive from exact DECIMAL sums — double-sum ordering
    across partitions would otherwise make μ run-dependent; the remaining
    per-row ops are single IEEE operations, deterministic by definition).

    Shape at scale: ONE global aggregate (map-side partial → 1 row) cross
    joined back as a broadcast literal; the scaling itself is map-only.
    """
    x = F.col(value_col).cast("double")
    dec = F.col(value_col).cast("decimal(18,4)")
    stats = df.agg(
        F.min(x).alias("_mn"),
        F.max(x).alias("_mx"),
        F.max(F.abs(x)).alias("_mabs"),
        F.sum(dec).cast("double").alias("_sm"),
        F.sum(dec * dec).cast("double").alias("_s2"),
        F.count("*").cast("double").alias("_n"),
    )
    mn, mx = F.col("_mn"), F.col("_mx")
    mean = F.col("_sm") / F.col("_n")
    var = (F.col("_s2") - F.col("_sm") * F.col("_sm") / F.col("_n")) / (F.col("_n") - 1)
    exprs = {
        "minmax": (x - mn) / (mx - mn),
        "mean": (x - mean) / (mx - mn),
        "max": x / F.col("_mabs"),
        "stdscore": (x - mean) / F.sqrt(var),
        "log": F.log(x - mn + F.lit(1.0)),
        "center": x - mean,
    }
    unknown = [s for s in scalers if s not in exprs]
    if unknown:
        raise ValueError(f"unknown scaler(s) {unknown}; choose from {sorted(exprs)}")
    return df.crossJoin(F.broadcast(stats)).select(
        F.col(id_col).alias("id"),
        *[
            F.round(exprs[s] * F.lit(out_scale)).cast("long").alias(f"{s}_scaled")
            for s in scalers
        ],
    )


def random_walk(
    edges: DataFrame,
    sources: DataFrame,
    steps: int = 5,
    salt: str = "walk",
    undirected: bool = False,
) -> DataFrame:
    """gds.randomWalk with a DETERMINISTIC hash-seeded chooser: from each
    source, ``steps`` hops where the next node is the out-neighbor with
    the minimum ``md5(salt ‖ step ‖ current ‖ neighbor)`` — a fixed
    pseudo-random draw that is reproducible across runs, partitionings,
    and engines (the property RNG-based samplers lack, and what makes
    this walk ORACLE-checkable: the same argmin is expressible in SQL).
    Walks stop early at sink nodes. Returns (walk_id, step, id): one row
    per visited position, walk_id = the source id, step 0 = the source.

    Per step: one frontier⋈edges join + one min_by aggregation keyed on
    the walk — the frontier is |walks| rows, never more, so a million
    concurrent walks is a million-row state frame regardless of graph
    size.
    """
    with scope() as loop:
        e = loop.pin(undirect(edges) if undirected else edges.select("src", "dst"), "src")
        cur = loop.ckpt(sources.select(F.col("id").alias("walk_id")).distinct().select(
            "walk_id", F.col("walk_id").alias("id")
        ))
        out = [cur.select("walk_id", F.lit(0).cast("long").alias("step"), "id")]
        for k in range(1, steps + 1):
            draw = F.md5(
                F.concat_ws("|", F.lit(salt), F.lit(str(k)), F.col("id"), F.col("dst"))
            )
            nxt = loop.ckpt(
                cur.join(e, cur["id"] == e["src"])
                .select("walk_id", "id", "dst", draw.alias("_h"))
                .groupBy("walk_id")
                .agg(F.min_by("dst", F.col("_h")).alias("id"))
            )
            if nxt.isEmpty():
                break
            out.append(nxt.select("walk_id", F.lit(k).cast("long").alias("step"), "id"))
            # every per-step checkpoint is read by the final union (it IS
            # the result), so the steps stay pinned past the scope
            cur = nxt
        return loop.result(_union(out))


# Source count up to which ``betweenness`` sums its per-level σ/δ arrays as
# S per-slot ``sum(col[i])`` aggregates (generated code); above it, one
# ``aggregate(collect_list, zip_with)`` HOF fold (interpreted per element).
# The slot form's plan is an S-wide expression tree whose analyze/optimize/
# plan cost grows with S and is paid again every level; the fold's plan
# cost is flat. Measured on a 4-vCPU VM (local[2], one groupBy over 2,000
# rows): slot form 436 ms to plan at S=512, 822 ms at 1024, 2.0 s at 2048;
# fold ~35 ms at every S. The fold's extra cost is per row × element
# executed, so the slot form pays off on the large per-level inputs the
# sweep has, and 512 caps its planning at ~0.4 s per level. The two forms
# add doubles in a different order, so runs just above and just below the
# switch can differ in the last bits of bc.
BETWEENNESS_SLOT_SUM_MAX_SOURCES = 512


def betweenness(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 8,
    undirected: bool = True,
) -> DataFrame:
    """gds.betweenness — Brandes' algorithm with an explicit source set
    (the gds ``samplingSize`` contract: exact when ``sources`` is every
    node, deterministic sampled estimate otherwise — exact all-pairs is
    O(V·E) on any engine, so a bounded/landmark source set is the only
    honest 100 TB shape). Returns (id, bc): Σ over sources s of the
    dependency δ_s(v), endpoints excluded, raw (un-halved) sums.

    Two BSP sweeps, both level-synchronous with the whole source set
    advancing at once. State is SOURCE-INDEXED ARRAYS per node — one row
    per reached node carrying ``array[S]`` of σ (forward) / δ (backward)
    — not |sources|×|reached| narrow rows. At sf0.1 the narrow form
    shuffled a frontier×degree 118M-row intermediate per superstep (72 s
    in one level); the packed form shuffles |edge-expansion| rows of
    arrays (~1M), with the per-(source) sums done element-wise JVM-side
    (collect_list + aggregate/zip_with HOFs), and was measured 5×
    faster end-to-end. Per level:

    - forward: one edge join + groupBy(node) element-wise array-sum of
      path counts σ (integer-exact), then a visited-mask zip (σ of an
      already-visited (source, node) pair zeroes out);
    - backward (deepest level first): the per-(s,w) message
      m = (1+δ_w)/σ_w is an array zip on the δ frame, expanded through
      the edge list and array-summed per node; δ(s,v) = σ(s,v)·Σm over
      successors — σ_v factors out of Brandes' sum.

    ``max_depth`` caps both sweeps; an unrolled oracle with the same cap
    truncates identically, so the pairing stays exact even if the true
    diameter exceeds the cap.
    """
    from pyspark.sql import Window

    src_ids = sources.select(F.col("id")).distinct()
    n_src = src_ids.count()
    if n_src == 0:
        return src_ids.select("id", F.lit(0.0).alias("bc"))
    # every round moves an array[S] per node: size the loop by S slots
    with bsp(edges, slots=n_src) as loop:
        e = loop.pin(
            (undirect(edges) if undirected else edges.select("src", "dst")).distinct(), "src"
        )
        # source → array slot. The single-partition window is over the
        # (bounded, gds samplingSize-style) source set only — never |V|.
        idx = src_ids.select(
            "id", (F.row_number().over(Window.orderBy("id")) - 1).alias("_j")
        )
        zeros_l = F.array_repeat(F.lit(0).cast("long"), n_src)
        zeros_d = F.array_repeat(F.lit(0.0), n_src)
        falses = F.array_repeat(F.lit(False), n_src)

        def arr_sum(df, col, zero):
            """groupBy(v) element-wise array sum.

            r15 (guide §1.2 "per-task work"): S independent ``sum(col[i])``
            aggregates reassembled into the array, instead of the former
            ``aggregate(collect_list, zip_with)`` fold. Higher-order
            functions are CodegenFallback — the fold evaluated interpreted
            lambdas with per-step array allocation over every element of
            every input row (the measured bulk of each level's checkpoint
            job) — while ``sum(getItem(i))`` updates a primitive
            hash-aggregate buffer slot through generated code, with map-side
            partial aggregation intact. Values are identical: long sums are
            exact and commutative, and the double sums differ only in fold
            ORDER from the collect_list fold, which was already
            arrival-order-nondeterministic. Source sets above
            ``BETWEENNESS_SLOT_SUM_MAX_SOURCES`` fall back to the HOF fold
            rather than building an S-wide expression tree."""
            if n_src > BETWEENNESS_SLOT_SUM_MAX_SOURCES:
                return df.groupBy("v").agg(
                    F.aggregate(
                        F.collect_list(col),
                        zero,
                        lambda acc, x: F.zip_with(acc, x, lambda a, b: a + b),
                    ).alias(col)
                )
            return df.groupBy("v").agg(
                F.array(*[F.sum(F.col(col)[i]) for i in range(n_src)]).alias(col)
            )

        # Forward sweep state is ONE frame per level: (v, seen[bool S],
        # new[long S]) — the former separate `visited` frame is folded in, so
        # each level is a single full-outer merge + eager checkpoint instead
        # of two checkpoint jobs (r14, guide §2.4: one superstep = one job).
        # The per-level σ views the backward sweep needs are lazy filters
        # over the checkpointed states.
        state = loop.ckpt(
            idx.select(
                F.col("id").alias("v"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(n_src - 1)),
                    lambda i: F.when(i == F.col("_j"), F.lit(1).cast("long")).otherwise(
                        F.lit(0).cast("long")
                    ),
                ).alias("new"),
            ).select(
                "v", F.transform("new", lambda x: x > 0).alias("seen"), "new"
            )
        )
        states = [state]

        def _lvl_view(st: DataFrame) -> DataFrame:
            return st.where(F.col("new").isNotNull()).select(
                "v", F.col("new").alias("sig")
            )

        levels = [_lvl_view(state)]
        for _ in range(max_depth):
            summed = arr_sum(
                loop.join(_lvl_view(state), e, "v").select(e["dst"].alias("v"), "sig"),
                "sig",
                zeros_l,
            )
            merged = state.join(
                summed.withColumnRenamed("sig", "_sg"), "v", "full"
            )
            masked = F.zip_with(
                F.col("_sg"),
                F.coalesce("seen", falses),
                lambda x, sn: F.when(sn, F.lit(0).cast("long")).otherwise(x),
            )
            # Settled nodes (no new σ this level) store `new` as NULL instead
            # of an all-zero array[S] — at later levels |reached| ≈ |V| while
            # the frontier is tiny, so checkpointing zero arrays for every
            # settled node was 8·S bytes/node/level of dead weight (the bulk
            # of the full-outer merge's write). The level view filters on
            # IS NOT NULL; values in non-null arrays are unchanged.
            #
            # r15 (guide §1.2 "per-task work"): rows with NO contribution
            # this level (`_sg` null — the settled majority at later levels)
            # pass `seen` through and store a null `new` WITHOUT evaluating
            # any array lambda: higher-order functions are CodegenFallback
            # (interpreted per element), and CaseWhen evaluates only the
            # taken branch, so the per-level HOF work shrinks from O(|V|·S)
            # to O(|touched|·S). `seen` folds the unmasked `_sg` directly
            # (sn | (x>0 ∧ ¬sn) ≡ sn | x>0), dropping the former
            # masked-intermediate re-evaluation; values are unchanged.
            new_state = loop.ckpt(
                merged.select(
                    "v",
                    F.when(F.col("_sg").isNull(), F.col("seen"))
                    .otherwise(
                        F.zip_with(
                            F.coalesce("seen", falses),
                            F.col("_sg"),
                            lambda sn, x: sn | (x > 0),
                        )
                    )
                    .alias("seen"),
                    F.when(
                        F.col("_sg").isNotNull()
                        & F.exists(masked, lambda x: x > 0),
                        masked,
                    ).alias("new"),
                )
            )
            if _lvl_view(new_state).isEmpty():
                loop.free(new_state)
                break
            states.append(new_state)
            levels.append(_lvl_view(new_state))
            state = new_state
        # Backward dependency sweep: each level's δ frame is a LAZY local
        # checkpoint materialized by the NEXT level's score-fold job (one
        # eager job per level instead of two), with the scalar score fold
        # keeping the pinned array-state bounded: the sweep holds at most two
        # array-level δ frames plus the states (which the forward sweep
        # already pinned). δ at depth 0 (the sources, endpoint-excluded by
        # Brandes) is never computed.
        if len(levels) == 1:
            return src_ids.select("id", F.lit(0.0).alias("bc"))
        # backward joins key on dst — pin that partitioning once for all
        # levels instead of re-exchanging the edge set per round
        e_by_dst = loop.pin(e, "dst")

        def _fold(score: DataFrame | None, delta_frame: DataFrame) -> DataFrame:
            contrib = delta_frame.select(
                "v", F.aggregate("delta", F.lit(0.0), lambda a, x: a + x).alias("delta")
            )
            merged = contrib if score is None else score.unionByName(contrib)
            # the eager checkpoint materializes; the superseded running-score
            # frame it folded in is dead from then on (r14)
            return loop.advance(
                loop.ckpt(merged.groupBy("v").agg(F.sum("delta").alias("delta"))), "score"
            )

        score: DataFrame | None = None
        delta_next = levels[-1].select("v", "sig", zeros_d.alias("delta"))
        for d in range(len(levels) - 2, 0, -1):
            cur = levels[d]
            # per-(source) successor message m = (1+δ_w)/σ_w where σ_w>0
            msgs = delta_next.select(
                "v",
                F.zip_with(
                    "sig",
                    "delta",
                    lambda sg, dl: F.when(
                        sg > 0, (F.lit(1.0) + dl) / sg.cast("double")
                    ).otherwise(F.lit(0.0)),
                ).alias("_m"),
            )
            # messages flow along the PREDECESSOR relation: w's dependency
            # reaches v iff the forward edge v→w exists, so join on e.dst==w
            # and emit e.src — joining on e.src would walk w's out-edges,
            # which is only equivalent when e is the symmetric undirected set
            acc = arr_sum(
                loop.join(msgs, e_by_dst, "v", "dst").select(e_by_dst["src"].alias("v"), "_m"),
                "_m",
                zeros_d,
            )
            delta_cur = loop.ckpt(
                cur.join(acc, "v", "left").select(
                    "v",
                    "sig",
                    F.zip_with(
                        "sig",
                        F.coalesce("_m", zeros_d),
                        lambda sg, a: F.when(sg > 0, sg.cast("double") * a).otherwise(
                            F.lit(0.0)
                        ),
                    ).alias("delta"),
                ),
                eager=False,
            )
            # The fold's groupBy scans every row of delta_next, materializing
            # its lazy checkpoint in the same job. delta_next's own inputs
            # (the previous δ) can only be released AFTER that — one round
            # late.
            score = _fold(score, delta_next)  # depth d+1 ≥ 1: interior, counts
            loop.advance(delta_next, "delta")
            # States release ONE ROUND BEHIND, like the δ frames: the
            # backward start's delta_next is a lazy VIEW over states[-1] (not
            # a checkpoint), consumed only when the NEXT round's δ
            # materializes — and with the zero-exchange loop plans there is
            # no shuffle file between a δ frame and the state checkpoints
            # under it to mask an early release (releasing states[d+1] here
            # crashed the next fold with CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND
            # once the exchanges were gone). The pinned set still shrinks
            # level by level — just one level later.
            loop.advance(states[d + 1], "level")
            delta_next = delta_cur
        score = _fold(score, delta_next)  # depth 1 (materializes the last δ)
        return loop.result(score.select(F.col("v").alias("id"), F.col("delta").alias("bc")))


def kcore(edges: DataFrame, k: int = 3, max_rounds: int = 20) -> DataFrame:
    """gds.kcore (fixed k): the maximal subgraph in which every node has
    degree ≥ k, over the undirected simple projection (dedup +
    self-loop-free). Returns (id, deg) — members with their degree
    INSIDE the core subgraph.

    Iterative peeling: drop nodes with degree < k, re-derive degrees,
    repeat to fixpoint. Each round is one groupBy-count + two semi
    joins over a monotonically shrinking symmetric edge list — the
    standard distributed peel (O(peel-depth) rounds, each a pair of
    equi-joins; never materializes anything bigger than the edge list).
    Early exit when the edge count stops changing; a fixed-round oracle
    unrolls the same DP (no-op rounds are no-ops on both sides).
    """
    simple = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    with scope() as loop:
        sym = loop.advance(loop.ckpt(
            simple.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
                simple.select(F.col("b").alias("src"), F.col("a").alias("dst"))
            )
        ))
        n_edges = sym.count()
        # One job per peel round (r14, guide §2.4, as in ``ktruss``): the
        # surviving-edge count is the action that materializes the lazy
        # checkpoint, and the superseded edge frame is released right after.
        for _ in range(max_rounds):
            if n_edges == 0:
                break
            keep = (
                sym.groupBy("src")
                .agg(F.count("*").alias("_d"))
                .where(F.col("_d") >= k)
                .select("src")
            )
            sym = loop.ckpt(
                sym.join(keep, "src", "left_semi").join(
                    keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
                ),
                eager=False,
            )
            n_nxt = sym.count()
            loop.advance(sym)
            if n_nxt == n_edges or n_nxt == 0:
                break
            n_edges = n_nxt
        return loop.result(
            sym.groupBy(F.col("src").alias("id")).agg(F.count("*").cast("long").alias("deg"))
        )


def triangle_count(edges: DataFrame) -> DataFrame:
    """Global triangle count over an undirected simple graph.

    ``edges`` is canonicalized to a < b; triangles found by the standard
    two-join wedge closure (a<b<c), each triangle counted exactly once.
    The joins are equi-joins on node ids — degree-bounded, not all-pairs.
    """
    # No pin: the three reads of ``e`` are one query, so Spark reuses its
    # exchange, and AQE sizes the joins from that exchange's runtime stats
    # (a checkpoint leaf plans from the estimate, here a self-join's, and
    # picks sort-merge joins). Same for ``local_clustering``, ``triangle_list``
    # and the node-similarity kernels; ``link_prediction`` measured faster
    # with its edge frame pinned.
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    return tri.agg(F.count("*").cast("long").alias("triangles"))


def local_clustering(edges: DataFrame) -> DataFrame:
    """Per-node triangle count + local clustering coefficient:
    (id, triangles, coeff) with coeff = 2·t / (deg·(deg−1)), 0 when deg<2.

    Same wedge-closure join as ``triangle_count`` (each triangle found once
    as a<b<c), then each triangle credits its three vertices via an
    explode-groupBy — still degree-bounded equi-joins, never all-pairs.
    Covers the gds.triangleCount per-node stream / localClusteringCoefficient
    surface (SURVEY §2.B.10).
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("id"))
        .unionByName(e.select(F.col("b").alias("id")))
        .groupBy("id")
        .agg(F.count("*").alias("_deg"))
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"])
    per_node = (
        tri.select(F.explode(F.array("x", "y", "z")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("_t"))
    )
    return deg.join(per_node, "id", "left").select(
        "id",
        F.coalesce(F.col("_t"), F.lit(0)).cast("long").alias("triangles"),
        F.when(
            F.col("_deg") >= 2,
            2.0
            * F.coalesce(F.col("_t"), F.lit(0)).cast("double")
            / (F.col("_deg") * (F.col("_deg") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("coeff"),
    )


def node_similarity(
    edges: DataFrame,
    top_k: int | None = None,
    min_jaccard: float = 0.0,
) -> DataFrame:
    """gds.nodeSimilarity: Jaccard over *out*-neighbor sets.

    Candidate pairs come only from co-grouping on shared neighbors (the
    bucket-join shape — cost is Σ_neighbor deg², never |V|²). Returns
    (node_a, node_b, jaccard) with node_a < node_b.
    """
    ne = edges.select("src", "dst").distinct()
    sizes = ne.groupBy("src").agg(F.count("*").alias("_sz"))
    a = ne.select(F.col("src").alias("node_a"), F.col("dst").alias("_n"))
    b = ne.select(F.col("src").alias("node_b"), F.col("dst").alias("_n"))
    inter = (
        a.join(b, "_n")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("double").alias("_i"))
    )
    out = (
        inter.join(sizes.withColumnRenamed("src", "node_a").withColumnRenamed("_sz", "_sa"), "node_a")
        .join(sizes.withColumnRenamed("src", "node_b").withColumnRenamed("_sz", "_sb"), "node_b")
        .select(
            "node_a",
            "node_b",
            (F.col("_i") / (F.col("_sa") + F.col("_sb") - F.col("_i"))).alias("jaccard"),
        )
        .where(F.col("jaccard") >= min_jaccard)
    )
    if top_k is not None:
        from pyspark.sql.window import Window

        w = Window.partitionBy("node_a").orderBy(F.desc("jaccard"), F.asc("node_b"))
        out = (
            out.withColumn("_rk", F.row_number().over(w))
            .where(F.col("_rk") <= top_k)
            .drop("_rk")
        )
    return out


def closeness_walk(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 20,
    undirected: bool = True,
) -> DataFrame:
    """Multi-source BFS distance table: (source, id, dist) for every node
    reachable from each source — the shared walk under ``closeness`` and
    the harmonic-centrality catalog row. Frontier BSP with the source
    dimension riding in the key; state is |sources| × |reached|, which is
    why callers pass a bounded source set (landmark sampling at scale)."""
    src_ids = sources.select(F.col("id").alias("source")).distinct()
    # every round moves up to S (source, node) rows per node: size by S slots
    with bsp(edges, slots=src_ids.count()) as loop:
        e = loop.pin(undirect(edges) if undirected else edges.select("src", "dst"), "src")
        frontier = loop.ckpt(src_ids.select("source", F.col("source").alias("id")))
        levels = [frontier.select("source", "id", F.lit(0).cast("long").alias("dist"))]
        visited = frontier
        for depth in range(1, max_depth + 1):
            nxt = loop.ckpt(
                loop.join(frontier, e)
                .select("source", F.col("dst").alias("id"))
                .distinct()
                .join(visited, ["source", "id"], "left_anti")
            )
            if nxt.isEmpty():
                break
            levels.append(nxt.select("source", "id", F.lit(depth).cast("long").alias("dist")))
            visited = visited.unionByName(nxt)
            frontier = nxt
        return loop.result(_union(levels))


def closeness(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 20,
    undirected: bool = True,
) -> DataFrame:
    """gds.closeness — closeness centrality for the ``sources`` node set:
    ``(id, n_reached, sum_dist, closeness)`` with the GDS raw formula
    closeness(u) = (reached(u) − 1) / Σ_v d(u, v).

    Multi-source frontier BSP: the frontier carries a ``source``
    dimension, so one superstep advances EVERY source's BFS at once —
    per level one join + one anti-join, exactly the single-source shape
    with a wider key. State is |sources| × |reached|, which is why the
    operator takes an explicit source set: exact for a bounded set
    (here: the label subset you care about), landmark-style sampling is
    the documented 100 TB path (same contract as gds's sampled
    betweenness/closeness estimators — exact all-pairs is O(V·E) on ANY
    engine). All arithmetic is integer counts + one exact double
    division, so a scaled-integer surface is engine-exact.
    """
    walk = closeness_walk(edges, sources, max_depth=max_depth, undirected=undirected)
    agg = walk.groupBy(F.col("source").alias("id")).agg(
        F.count("*").cast("long").alias("n_reached"),
        F.sum("dist").cast("long").alias("sum_dist"),
    )
    return agg.select(
        "id",
        "n_reached",
        "sum_dist",
        F.when(
            F.col("sum_dist") > 0,
            (F.col("n_reached") - 1).cast("double") / F.col("sum_dist").cast("double"),
        )
        .otherwise(F.lit(0.0))
        .alias("closeness"),
    )


def _kmeans_assign(pts: DataFrame, cent: DataFrame) -> DataFrame:
    """One Lloyd assignment step: nearest centroid per point (exact int64
    distances, ties → lowest centroid id). The k×d centroid frame is an
    explicit broadcast — the audit-tested join shape."""
    cq = cent.select("c", F.col("j").alias("_cj"), F.col("q").alias("_cq"))
    d = (
        pts.join(F.broadcast(cq), pts["j"] == cq["_cj"])
        .groupBy("id", "c")
        .agg(
            F.sum((F.col("q") - F.col("_cq")) * (F.col("q") - F.col("_cq"))).alias(
                "dist"
            )
        )
    )
    return (
        d.groupBy("id")
        .agg(F.min(F.struct("dist", "c")).alias("_m"))
        .select("id", F.col("_m.c").alias("cluster"))
    )


def kmeans(
    points: DataFrame,
    k: int = 10,
    max_iter: int = 3,
    scale: int = 1000,
) -> DataFrame:
    """gds.kmeans (reference surface: the GDS community-detection k-means
    over a node float-array property) — Lloyd's algorithm on LONG-FORM
    points ``(id, j, v)``; returns the final assignment ``(id, cluster)``.

    Determinism-by-quantization: coordinates quantize to milli-scale
    integers up front and centroid means re-quantize each round
    (``round(avg(q))``), so every distance is an exact int64 sum and the
    arg-min (ties → lowest centroid id) is bit-identical on any engine or
    partitioning — no float accumulation order anywhere. Seeding is the
    k lowest point ids (deterministic, RNG-free).

    Scale design: the assignment step is the textbook O(N·k·d) cost as
    one broadcast join (centroids are k×d rows — tiny, always broadcast)
    + groupBy(id, c) partial-aggregated sum + one min_by per id; the
    update step is one groupBy(c, j) mean over N·d rows. State between
    rounds is only the k×d centroid frame; empty clusters keep their
    previous centroid (COALESCE over the old grid) — no resampling, no
    driver-side data.
    """
    with scope() as loop:
        pts = loop.ckpt(points.select(
            "id", "j", F.round(F.col("v") * F.lit(scale)).cast("long").alias("q")
        ))
        seeds = pts.select("id").distinct().orderBy("id").limit(k)
        cent = loop.advance(
            loop.ckpt(pts.join(F.broadcast(seeds), "id").select(
                F.col("id").alias("c"), "j", "q"
            )),
            "cent",
        )
        assign = None
        for _ in range(max_iter):
            assign = loop.advance(loop.ckpt(_kmeans_assign(pts, cent)), "assign")
            means = (
                assign.join(pts, "id")
                .groupBy(F.col("cluster").alias("c"), "j")
                .agg(F.round(F.avg("q")).cast("long").alias("_nq"))
            )
            cent = loop.advance(
                loop.ckpt(cent.join(means, ["c", "j"], "left").select(
                    "c", "j", F.coalesce("_nq", "q").alias("q")
                )),
                "cent",
            )
        return loop.result(assign)


def node2vec_walk(
    edges: DataFrame,
    sources: DataFrame,
    steps: int = 5,
    w_return: int = 4,
    w_common: int = 2,
    w_far: int = 1,
    salt: str = "n2v",
    undirected: bool = False,
) -> DataFrame:
    """gds.node2vec second-order biased walks (Grover & Leskovec 2016),
    RNG-free: the return/in-between/far bias weights 1/p, 1, 1/q are
    expressed as small-integer replica counts (w_return, w_common,
    w_far), each candidate edge is replicated that many times, and the
    next hop is the replica with the minimum
    ``md5(salt|step|walk_id|cur|cand|replica)``. Because replica hashes
    are i.i.d. uniform, a candidate wins with probability EXACTLY
    m/Σm — true weighted sampling with rational weights, yet a pure
    deterministic function expressible identically in SQL (the oracle
    unrolls the same argmin). Step 1 has no predecessor: every candidate
    falls into the "far" class, so the draw is uniform.

    Per step: one frontier⋈edges join, one (prev,cand)∈E membership
    left-join (the distance-1 test), a ≤max(w)-fold replica explode, and
    one min_by per walk — frontier state stays |walks| rows.
    """
    with scope() as loop:
        base = (undirect(edges) if undirected else edges.select("src", "dst")).distinct()
        e = loop.pin(base, "src")
        t_adj = base.select(
            F.col("src").alias("_ts"), F.col("dst").alias("_td"), F.lit(1).alias("_near")
        )
        cur = loop.ckpt(sources.select(F.col("id").alias("walk_id")).distinct().select(
            "walk_id",
            F.lit(None).cast("long").alias("prev"),
            F.col("walk_id").alias("id"),
        ))
        out = [cur.select("walk_id", F.lit(0).cast("long").alias("step"), "id")]
        for k in range(1, steps + 1):
            cand = (
                cur.join(e, cur["id"] == e["src"])
                .join(
                    t_adj,
                    (cur["prev"] == t_adj["_ts"]) & (e["dst"] == t_adj["_td"]),
                    "left",
                )
                .select(
                    "walk_id",
                    "id",
                    "dst",
                    F.when(F.col("dst") == F.col("prev"), F.lit(w_return))
                    .when(F.col("_near").isNotNull(), F.lit(w_common))
                    .otherwise(F.lit(w_far))
                    .alias("_m"),
                )
            )
            reps = cand.select(
                "walk_id",
                "id",
                "dst",
                F.explode(F.sequence(F.lit(1), F.col("_m"))).alias("_j"),
            )
            draw = F.md5(
                F.concat_ws(
                    "|",
                    F.lit(salt),
                    F.lit(str(k)),
                    F.col("walk_id"),
                    F.col("id"),
                    F.col("dst"),
                    F.col("_j"),
                )
            )
            nxt = loop.ckpt(
                reps.select("walk_id", "id", "dst", draw.alias("_h"))
                .groupBy("walk_id")
                .agg(
                    F.min("id").alias("prev"),
                    F.min_by("dst", F.col("_h")).alias("id"),
                )
            )
            if nxt.isEmpty():
                break
            out.append(nxt.select("walk_id", F.lit(k).cast("long").alias("step"), "id"))
            # every per-step checkpoint is read by the final union (it IS
            # the result), so the steps stay pinned past the scope
            cur = nxt
        return loop.result(_union(out))


def leiden(
    edges: DataFrame,
    nodes: DataFrame,
    max_iter: int = 10,
    refine_iter: int = 12,
) -> DataFrame:
    """gds.leiden — Louvain local-moving plus the Leiden refinement
    guarantee (Traag, Waltman & van Eck 2019): communities are split into
    their connected components, so no returned community is internally
    disconnected — the specific Louvain defect the Leiden paper proves
    and fixes. Returns (id, community) with community = the minimum node
    id inside the refined component (stable, engine-exact labels).

    Refinement is one min-label WCC restricted to INTRA-community edges
    (two semi-joins against the assignment, then the standard fixpoint) —
    the same join+groupBy-min shuffle shape per round as WCC, on a
    subgraph that is never larger than the input.
    """
    comm = louvain(edges, nodes, max_iter)
    e = undirect(edges).distinct()
    a = comm.select(F.col("id").alias("_sa"), F.col("community").alias("_ca"))
    b = comm.select(F.col("id").alias("_sb"), F.col("community").alias("_cb"))
    intra = (
        e.join(a, e["src"] == a["_sa"])
        .join(b, e["dst"] == b["_sb"])
        .where(F.col("_ca") == F.col("_cb"))
        .select("src", "dst")
    )
    return _min_label_fixpoint(intra, nodes, refine_iter, "community")


def link_prediction(
    edges: DataFrame,
    pairs: DataFrame,
) -> DataFrame:
    """gds.alpha.linkprediction.* — the five classic topological scores
    for candidate node pairs (a, b) over the UNDIRECTED simple view:

    - common_neighbors  |Γ(a) ∩ Γ(b)|
    - total_neighbors   |Γ(a) ∪ Γ(b)|
    - pref_attachment   |Γ(a)| · |Γ(b)|
    - resource_alloc    Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z)
    - adamic_adar       Σ_{z ∈ Γ(a)∩Γ(b)} 1/ln(deg(z))

    Set shape, not path shape: common neighbors come from ONE self-join
    through the shared endpoint (edges az ⋈ edges zb on z, semi-joined
    to the candidate pairs first so only requested pairs generate work).
    The float sums fold over the common neighbors in ascending-z order
    (array_sort + sequential F.aggregate), so the result is bit-stable
    across partitionings and engines — never a parallel float SUM.
    """
    with scope() as loop:
        e = loop.pin(undirect(edges).distinct())
        deg = e.groupBy("src").agg(F.count("*").cast("long").alias("deg"))
        p = pairs.select(F.col("a").cast("long"), F.col("b").cast("long"))
        az = e.select(F.col("src").alias("a"), F.col("dst").alias("z"))
        zb = e.select(F.col("src").alias("z"), F.col("dst").alias("b"))
        common = (
            p.join(az, "a")
            .join(zb, ["z", "b"])
            .join(deg.withColumnRenamed("src", "z"), "z")
            .groupBy("a", "b")
            .agg(
                F.count("*").cast("long").alias("common_neighbors"),
                F.array_sort(F.collect_list(F.struct("z", "deg"))).alias("_zs"),
            )
            .select(
                "a",
                "b",
                "common_neighbors",
                F.aggregate(
                    "_zs",
                    F.lit(0.0),
                    lambda acc, s: acc + F.lit(1.0) / s["deg"].cast("double"),
                ).alias("resource_alloc"),
                F.aggregate(
                    "_zs",
                    F.lit(0.0),
                    lambda acc, s: acc + F.lit(1.0) / F.log(s["deg"].cast("double")),
                ).alias("adamic_adar"),
            )
        )
        da = deg.select(F.col("src").alias("a"), F.col("deg").alias("_da"))
        db = deg.select(F.col("src").alias("b"), F.col("deg").alias("_db"))
        out = (
            p.join(da, "a", "left")
            .join(db, "b", "left")
            .join(common, ["a", "b"], "left")
            .select(
                "a",
                "b",
                F.coalesce("common_neighbors", F.lit(0)).cast("long").alias("common_neighbors"),
                (
                    F.coalesce("_da", F.lit(0)) + F.coalesce("_db", F.lit(0))
                    - F.coalesce("common_neighbors", F.lit(0))
                ).cast("long").alias("total_neighbors"),
                (F.coalesce("_da", F.lit(0)) * F.coalesce("_db", F.lit(0)))
                .cast("long")
                .alias("pref_attachment"),
                F.coalesce("resource_alloc", F.lit(0.0)).alias("resource_alloc"),
                F.coalesce("adamic_adar", F.lit(0.0)).alias("adamic_adar"),
            )
        )
        return loop.result(out)


def sllpa(
    edges: DataFrame,
    nodes: DataFrame,
    rounds: int = 5,
    threshold_num: int = 1,
    threshold_den: int = 4,
    salt: str = "sllpa",
) -> DataFrame:
    """gds.alpha.sllpa — Speaker-Listener LPA (Xie et al. 2011), the
    OVERLAPPING community detector: every node keeps a label memory;
    each round every neighbor speaks ONE label drawn from its memory
    with probability cnt/Σcnt, the listener adopts the most-heard label
    (ties → smallest) and appends it to memory; after ``rounds``, a node
    belongs to every label holding ≥ threshold of its memory. Returns
    (id, label, cnt) membership rows — a node can appear under several
    labels, which single-membership LPA/Louvain cannot express.

    RNG-free: the speaker draw uses the replica-minhash trick (see
    node2vec_walk) — memory counts ARE the replica counts, so the draw
    is exactly cnt/Σcnt yet a pure md5 argmin both engines compute
    identically. State is (node, label, cnt) with ≤ rounds+1 labels per
    node; each round is one edge⋈memory join + a ≤(rounds+1)-fold
    replica explode + two groupBys — the LPA shuffle shape with a
    bounded constant factor.
    """
    with bsp(edges) as loop:
        e = loop.pin(undirect(edges).distinct(), "src")
        mem = loop.advance(loop.ckpt(
            nodes.select(
                F.col("id").alias("node"),
                F.col("id").alias("label"),
                F.lit(1).cast("long").alias("cnt"),
            )
        ))
        for k in range(1, rounds + 1):
            # memory side hinted as in ``BSPLoop.join``, built on the right
            cand = e.join(mem.hint("shuffle_hash"), e["src"] == mem["node"]).select(
                "src", "dst", "label", "cnt"
            )
            reps = cand.select(
                "src",
                "dst",
                "label",
                F.explode(F.sequence(F.lit(1), F.col("cnt"))).alias("_j"),
            )
            draw = F.md5(
                F.concat_ws(
                    "|",
                    F.lit(salt),
                    F.lit(str(k)),
                    F.col("src"),
                    F.col("dst"),
                    F.col("label"),
                    F.col("_j"),
                )
            )
            spoken = reps.select("src", "dst", "label", draw.alias("_h")).groupBy(
                "src", "dst"
            ).agg(F.min_by("label", F.col("_h")).alias("label"))
            heard = (
                spoken.groupBy(F.col("dst").alias("node"), "label")
                .agg(F.count("*").alias("_n"))
                .groupBy("node")
                .agg(
                    F.max_by(
                        "label",
                        F.struct(F.col("_n").alias("n"), (-F.col("label")).alias("t")),
                    ).alias("label")
                )
                .select("node", "label", F.lit(1).cast("long").alias("_inc"))
            )
            # each round's eager checkpoint fully replaces the last memory
            mem = loop.advance(loop.ckpt(
                mem.join(heard, ["node", "label"], "full").select(
                    "node",
                    "label",
                    (F.coalesce("cnt", F.lit(0)) + F.coalesce("_inc", F.lit(0))).alias("cnt"),
                )
            ))
        totals = mem.groupBy("node").agg(F.sum("cnt").alias("_tot"))
        return loop.result(
            mem.join(totals, "node")
            .where(
                F.col("cnt") * F.lit(threshold_den) >= F.col("_tot") * F.lit(threshold_num)
            )
            .select(F.col("node").alias("id"), "label", "cnt")
        )


def node_similarity_metrics(edges: DataFrame) -> DataFrame:
    """gds.nodeSimilarity similarityMetric variants in one pass —
    JACCARD |A∩B|/|A∪B|, OVERLAP |A∩B|/min(|A|,|B|), COSINE
    |A∩B|/√(|A|·|B|) — over out-neighbor sets. Same bucket-join
    candidate shape as ``node_similarity`` (pairs only from shared
    neighbors, cost Σ_n deg², never |V|²); the three scores are derived
    from the SAME (∩, |A|, |B|) integers, so adding metrics adds zero
    shuffles. Scores surface micro-rounded (cosine's √ is libm).
    Returns (node_a, node_b, inter, jaccard_micro, overlap_micro,
    cosine_micro) with node_a < node_b.
    """
    ne = edges.select("src", "dst").distinct()
    sizes = ne.groupBy("src").agg(F.count("*").alias("_sz"))
    a = ne.select(F.col("src").alias("node_a"), F.col("dst").alias("_n"))
    b = ne.select(F.col("src").alias("node_b"), F.col("dst").alias("_n"))
    inter = (
        a.join(b, "_n")
        .where(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count("*").cast("long").alias("inter"))
    )
    out = (
        inter.join(
            sizes.withColumnRenamed("src", "node_a").withColumnRenamed("_sz", "_sa"),
            "node_a",
        )
        .join(
            sizes.withColumnRenamed("src", "node_b").withColumnRenamed("_sz", "_sb"),
            "node_b",
        )
    )
    i = F.col("inter").cast("double")
    micro = lambda c: F.round(c * F.lit(1e6)).cast("long")  # noqa: E731
    return out.select(
        "node_a",
        "node_b",
        "inter",
        micro(i / (F.col("_sa") + F.col("_sb") - F.col("inter"))).alias(
            "jaccard_micro"
        ),
        micro(i / F.least("_sa", "_sb")).alias("overlap_micro"),
        micro(i / F.sqrt((F.col("_sa") * F.col("_sb")).cast("double"))).alias(
            "cosine_micro"
        ),
    )


def collapse_path(
    graph,
    rel_types: list[str],
    new_type: str,
) -> DataFrame:
    """gds.beta.collapsePath — contract each path matching the rel-type
    chain into one synthetic relationship (src of the first hop → dst of
    the last), DISTINCT over endpoint pairs (the GDS contract). One
    equi-join per hop over the per-type pruned rel frames; no node
    properties travel through the chain. Returns (src, dst, type).
    """
    out = None
    for i, t in enumerate(rel_types):
        r = graph.rels_by_type(t).select(
            F.col("src").alias(f"_s{i}"), F.col("dst").alias(f"_d{i}")
        )
        if out is None:
            out = r
        else:
            out = out.join(r, F.col(f"_d{i - 1}") == F.col(f"_s{i}"))
    last = len(rel_types) - 1
    return (
        out.select(
            F.col("_s0").alias("src"), F.col(f"_d{last}").alias("dst")
        )
        .distinct()
        .withColumn("type", F.lit(new_type))
    )


def influence_maximization(
    edges: DataFrame,
    nodes: DataFrame,
    k: int = 3,
    p_num: int = 1,
    p_den: int = 5,
    n_sims: int = 8,
    max_depth: int = 4,
    salt: str = "celf",
) -> DataFrame:
    """gds.beta.influenceMaximization.celf — greedy seed selection under
    the Independent Cascade model, DETERMINISTIC: each simulation s keeps
    edge (u,v) alive iff the first 4 hex chars of md5(salt|s|u|v) fall
    under p_num/p_den · 0x10000 — a fixed coin that both reruns and any
    engine reproduce. Spread(S) = Σ_s |reach_s(S)| / n_sims over the
    alive-subgraphs; each greedy round picks the node with the maximum
    marginal spread (ties → smallest id). Returns (rank, id,
    spread_gain_x_sims) — integer reach counts, no floats.

    CELF cost model (r7, replacing the per-round all-candidate rescan):
    ONE all-candidate reachability pass seeds the lazy-forward queue
    (frontier BSP keyed by (cand, sim, node), all sims advancing
    together); every later round pops the queue head and re-simulates
    ONLY that candidate until the head's gain is fresh — submodularity
    makes the cached gains valid upper bounds, so the fresh head is the
    exact greedy argmax (ties → smallest id, encoded in the queue's
    (−gain, id) order). The driver queue is truncated to the top
    ``max(64, 8k)`` round-1 candidates (bounded driver state at any
    graph size); a guard re-runs the full pass in the provably-rare
    case a fresh gain falls below the truncation cutoff. Because the
    alive-edge sets are fixed per simulation, reach(S) = ∪ reach({c}),
    so the chosen-set base updates by unioning the selected candidate's
    own reach — no extra chosen-set BSP per round.
    """
    import heapq

    with scope() as loop:
        thr = (p_num * 0x10000) // p_den
        e_all = undirect(edges).distinct()
        alive = None
        for s in range(n_sims):
            coin = F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            "|", F.lit(salt), F.lit(str(s)), F.col("src"), F.col("dst")
                        )
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("long")
            es = e_all.where(coin < F.lit(thr)).select(
                F.lit(s).alias("sim"), "src", "dst"
            )
            alive = es if alive is None else alive.unionByName(es)
        alive = loop.pin(alive, "src")
        spark = nodes.sparkSession
        sims = spark.range(n_sims).select(F.col("id").cast("long").alias("sim"))

        def reach(seed_frame):
            """(cand, sim, node) reachability over the alive subgraphs —
            frontier BSP, one superstep per depth for EVERY (cand, sim)."""
            frontier = loop.ckpt(seed_frame)
            visited = frontier
            for _ in range(max_depth):
                nxt = (
                    frontier.join(alive, (frontier["node"] == alive["src"]) & (frontier["sim"] == alive["sim"]))
                    .select("cand", frontier["sim"], F.col("dst").alias("node"))
                    .distinct()
                    .join(visited, ["cand", "sim", "node"], "left_anti")
                )
                nxt = loop.ckpt(nxt)
                if nxt.isEmpty():
                    break
                visited = visited.unionByName(nxt)
                frontier = nxt
            return visited

        n = loop.pin(nodes.select("id"))
        queue_cap = max(64, 8 * k)

        def all_candidate_gains(exclude: list, base):
            """Full pass: marginal gain of every non-chosen candidate vs
            ``base``, zero-gain candidates included (left join + coalesce —
            absent rows would break the ties→smallest-id rule and empty
            gains would IndexError). Returns the top ``queue_cap`` rows by
            (gain desc, id asc) plus the cutoff tuple below which truncated
            candidates are known to sit."""
            cands = n if not exclude else n.where(~F.col("id").isin(*exclude))
            seeds = cands.select(F.col("id").alias("cand")).crossJoin(sims).select(
                "cand", "sim", F.col("cand").alias("node")
            )
            reached = reach(seeds)
            marginal = (
                reached if base is None else reached.join(base, ["sim", "node"], "left_anti")
            )
            gains = (
                cands.select(F.col("id").alias("cand"))
                .join(marginal.groupBy("cand").agg(F.count("*").alias("_g")), "cand", "left")
                .select("cand", F.coalesce("_g", F.lit(0)).alias("_g"))
            )
            top = gains.orderBy(F.desc("_g"), F.asc("cand")).limit(queue_cap + 1).collect()
            cutoff = (-1, 0)  # nothing truncated
            if len(top) > queue_cap:
                cutoff = (int(top[queue_cap]["_g"]), -int(top[queue_cap]["cand"]))
                top = top[:queue_cap]
            return reached, top, cutoff

        def single_candidate_reach(cand: int):
            seed = local_df(spark, [(cand,)], "cand long").crossJoin(sims).select(
                "cand", "sim", F.col("cand").alias("node")
            )
            return reach(seed)

        chosen: list = []
        out_rows = []
        base_reached = None  # (sim, node) reached by the chosen set
        reached_r1, top, cutoff = all_candidate_gains([], None)
        # heap entries: (-gain, cand, fresh_round); gains are upper bounds
        # for rounds after the one they were evaluated in (submodularity)
        heap = [(-int(r["_g"]), int(r["cand"]), 1) for r in top]
        heapq.heapify(heap)
        cand_reach: dict = {}  # selected candidate's own (sim, node) reach
        for rank in range(1, k + 1):
            if not heap:
                break
            while True:
                neg_g, cand, fresh = heap[0]
                if fresh == rank:
                    break  # head is fresh → exact greedy argmax this round
                heapq.heappop(heap)
                # a candidate's own reach is base-independent — computed once,
                # reused across rounds; only the anti-join vs base is per-round
                r_single = cand_reach.get(cand)
                if r_single is None:
                    r_single = single_candidate_reach(cand)
                g = r_single.join(base_reached, ["sim", "node"], "left_anti").count()
                cand_reach[cand] = r_single
                heapq.heappush(heap, (-int(g), cand, rank))
                if (-heap[0][0], -heap[0][1]) <= cutoff:
                    # fresh best fell below the truncation cutoff: the true
                    # argmax may be a truncated candidate — re-run the full
                    # pass (provably rare at queue_cap ≥ 8k)
                    reached_r1, top, cutoff = all_candidate_gains(chosen, base_reached)
                    heap = [(-int(r["_g"]), int(r["cand"]), rank) for r in top]
                    heapq.heapify(heap)
                    cand_reach = {}
            neg_g, best_cand, _ = heapq.heappop(heap)
            chosen.append(best_cand)
            out_rows.append((rank, best_cand, -neg_g))
            best_reach = cand_reach.pop(best_cand, None)
            if best_reach is None:  # selected straight from a full pass
                best_reach = reached_r1.where(F.col("cand") == best_cand)
            add = best_reach.select("sim", "node")
            base_reached = loop.advance(
                loop.ckpt(
                    add.distinct()
                    if base_reached is None
                    else base_reached.unionByName(add).distinct()
                ),
                "base",
            )
        return local_df(spark, out_rows, "rank long, id long, spread_gain_x_sims long")


def k1coloring(
    edges: DataFrame,
    nodes: DataFrame,
    max_rounds: int = 20,
) -> DataFrame:
    """gds.beta.k1coloring — greedy graph coloring by iterative conflict
    resolution (the Gebremedhin-Manne style distributed scheme GDS runs):
    everyone starts at color 0; each round, for every monochrome edge the
    LOWER-priority endpoint (higher id — priority is the node id, so the
    whole run is deterministic) recolors to the smallest color absent
    from its neighborhood; stop when no conflicts remain. Returns
    (id, color).

    Per round: one conflict join + one neighbor-color collect_set +
    a smallest-absent-color expression over the (bounded) set — all on
    the conflicted nodes only, which shrink geometrically. Colors are
    bounded by max-degree+1, so the collected set stays small even on
    hub nodes.

    The returned coloring is always PROPER: the loop runs until the
    conflict frame is empty, with ``max_rounds`` as a hard safety cap
    that raises instead of silently returning a coloring with
    monochrome edges (r6 ADVICE — long id-ordered conflict chains can
    outlast any fixed round count).
    """
    with bsp(edges) as loop:
        e = loop.pin(undirect(edges).distinct(), "src")

        # r14 fusion (guide §2.4): conflict detection, recolor and merge are
        # ONE lineage per round ending in a single eager checkpoint that
        # carries a `_chg` flag, probed by the fixpoint — no separate
        # conflict-frame checkpoint job. Equivalence: a conflicted
        # node ALWAYS changes color — its old color is present in its
        # neighborhood, so the smallest absent color differs — hence "no
        # conflicts" ⟺ "no _chg rows".
        def step(color: DataFrame) -> DataFrame:
            ca = color.select(F.col("id").alias("_ia"), F.col("color").alias("_ca"))
            cb = color.select(F.col("id").alias("_ib"), F.col("color").alias("_cb"))
            # color/conflict (state) sides hinted as in ``BSPLoop.join``,
            # built on the right of the pinned edges
            conflicts = (
                e.join(ca.hint("shuffle_hash"), e["src"] == ca["_ia"])
                .join(cb.hint("shuffle_hash"), e["dst"] == cb["_ib"])
                .where((F.col("_ca") == F.col("_cb")) & (F.col("_ia") < F.col("_ib")))
                .select(F.col("_ib").alias("id"))
                .distinct()
            )
            nb = (
                e.join(conflicts.hint("shuffle_hash"), e["src"] == conflicts["id"])
                .join(
                    color.select(F.col("id").alias("_n"), F.col("color").alias("_nc")).hint(
                        "shuffle_hash"
                    ),
                    F.col("dst") == F.col("_n"),
                )
                .groupBy(e["src"].alias("id"))
                .agg(F.collect_set("_nc").alias("_used"))
            )
            # smallest color not in _used: scan 0..size(_used) — one of them
            # must be free (pigeonhole), filter+array_min keeps it JVM-side
            free = F.array_min(
                F.filter(
                    F.sequence(F.lit(0).cast("long"), F.size("_used").cast("long")),
                    lambda c: ~F.exists(F.col("_used"), lambda u: u == c),
                )
            )
            recolored = nb.select("id", free.cast("long").alias("color"))
            return color.join(recolored.withColumnRenamed("color", "_new"), "id", "left").select(
                "id",
                F.coalesce("_new", "color").alias("color"),
                F.col("_new").isNotNull().alias("_chg"),
            )

        seed = nodes.select("id", F.lit(0).cast("long").alias("color"))
        color = loop.fixpoint(seed, step, max_rounds + 1, "_chg")
        if not loop.converged:
            raise RuntimeError(
                f"k1coloring did not converge within max_rounds={max_rounds}: "
                "conflicts remain — raise max_rounds"
            )
        return loop.result(color.select("id", "color"))


def hashgnn(
    edges: DataFrame,
    nodes: DataFrame,
    n_features: int = 16,
    n_slots: int = 8,
    iterations: int = 2,
    salt: str = "hashgnn",
    undirected: bool = True,
) -> DataFrame:
    """gds.beta.hashgnn — hash-based binary node embeddings (the
    HashGNN construction: message passing where aggregation is MIN-HASH
    SELECTION instead of arithmetic, so embeddings stay binary and the
    whole computation is integer/hash arithmetic end-to-end — no
    training, no floats, deterministic).

    State: each node holds a SET of active feature ids (long form
    (id, j)). Init: feature j is active on v iff md5(salt|init|v|j) has
    an even first hex digit (≈50% density). Iteration t: pool each
    node's own + in-neighbor features, then for each of ``n_slots``
    output slots keep the pooled feature with the minimum
    md5(salt|t|slot|feature) — a per-slot min-hash signature of the
    neighborhood feature set (Jaccard-sensitive, like any min-hash).
    Returns (id, emb) with the final sorted feature-id list serialized
    as a comma string.

    Shuffle shape: per iteration one edge join + distinct union (the
    pool) + one groupBy(id, slot) argmin — PageRank's cost times
    n_slots, all exact integers.
    """
    with scope() as loop:
        e = (undirect(edges) if undirected else edges.select("src", "dst")).distinct()
        feats = nodes.select(
            "id", F.explode(F.sequence(F.lit(0), F.lit(n_features - 1))).alias("j")
        ).where(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|", F.lit(salt), F.lit("init"), F.col("id"), F.col("j")
                    )
                ),
                1,
                1,
            ).isin(*"02468ace")
        )
        state = loop.advance(loop.ckpt(feats.select("id", "j")))
        for t in range(1, iterations + 1):
            nbr = (
                state.join(e, state["id"] == e["src"])
                .select(F.col("dst").alias("id"), "j")
            )
            pool = state.unionByName(nbr).distinct()
            slots = pool.select(
                "id",
                "j",
                F.explode(F.sequence(F.lit(0), F.lit(n_slots - 1))).alias("_s"),
            )
            h = F.md5(
                F.concat_ws("|", F.lit(salt), F.lit(str(t)), F.col("_s"), F.col("j"))
            )
            state = loop.advance(loop.ckpt(
                slots.select("id", "_s", "j", h.alias("_h"))
                .groupBy("id", "_s")
                .agg(F.min_by("j", F.col("_h")).alias("j"))
                .select("id", "j")
                .distinct()
            ))
        # zero-padded feature ids so the sorted string form orders numerically
        return loop.result(state.groupBy("id").agg(
            F.array_join(
                F.array_sort(F.collect_list(F.format_string("%02d", "j"))), ","
            ).alias("emb")
        ))


def bfs_tree(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 20,
    undirected: bool = False,
) -> DataFrame:
    """BFS shortest-path tree (apoc.path.spanningTree / the predecessor
    output of gds.bfs): (id, dist, parent) with parent = the SMALLEST
    dist-1 neighbor that discovered the node — the deterministic choice
    among equally-short predecessors, so the tree is unique and
    oracle-checkable. Sources carry parent = NULL. Same frontier BSP as
    ``bfs`` with one extra min-aggregation per level.
    """
    with scope() as loop:
        e = loop.pin(undirect(edges) if undirected else edges.select("src", "dst"), "src")
        frontier = loop.ckpt(sources.select("id").distinct())
        levels = [
            frontier.select(
                "id",
                F.lit(0).cast("long").alias("dist"),
                F.lit(None).cast("long").alias("parent"),
            )
        ]
        visited = frontier
        for depth in range(1, max_depth + 1):
            nxt = (
                frontier.join(e, frontier["id"] == e["src"])
                .groupBy(F.col("dst").alias("id"))
                .agg(F.min(e["src"]).alias("parent"))
                .join(visited, "id", "left_anti")
            )
            nxt = loop.ckpt(nxt)
            if nxt.isEmpty():
                break
            levels.append(
                nxt.select("id", F.lit(depth).cast("long").alias("dist"), "parent")
            )
            visited = visited.unionByName(nxt.select("id"))
            frontier = nxt.select("id")
        return loop.result(_union(levels))


def biconnected_components(
    edges: DataFrame, max_depth: int = 40
) -> DataFrame:
    """Biconnected components: every simple undirected edge labeled with
    its block — ``(src, dst, bcc)`` with src < dst and bcc = the minimum
    non-root endpoint id in the block (deterministic canonical label).

    Tarjan–Vishkin (1985) without DFS — the construction that made
    biconnectivity parallel, and the right shape for BSP-on-DataFrames
    (reference surface: gds.articulationPoints / gds.bridges; the
    reference ships them via the graph-data-science plugin jar,
    /root/reference/docker-image-src/3.5/coredb/neo4j-plugins.json:34-40):

    1. BFS spanning forest (``bfs_tree``; parent = min equally-near
       neighbor, so the forest is unique).
    2. Preorder number ``pre`` and subtree size ``nd`` per vertex —
       bottom-up size sum then top-down prefix offsets, one small
       per-depth-level join per superstep (O(height) rounds).
    3. ``low``/``high``: min/max preorder reachable from the subtree via
       one non-tree edge — same bottom-up sweep.
    4. Auxiliary graph on tree edges (a tree edge ≡ its child endpoint):
       * non-tree edge {u,v} with neither endpoint an ancestor of the
         other joins their parent edges (in a BFS forest every non-tree
         edge is such a pair — no back edges exist);
       * tree edge (v,w) joins v's own parent edge iff subtree(w)
         escapes subtree(v): low(w) < pre(v) or high(w) ≥ pre(v)+nd(v).
       Connected components of the auxiliary graph (``wcc_star``,
       O(log n) rounds) are exactly the biconnected components.

    Scale shape: the per-depth sweeps touch one BFS level at a time; the
    only global shuffles are the aux-graph WCC and one groupBy per sweep
    level. The sibling-offset window partitions by parent (bounded by max
    degree); root base offsets window over the #components-sized root
    frame.
    """
    from pyspark.sql.window import Window

    with scope() as loop:
        e0 = loop.pin(
            edges.select(
                F.least("src", "dst").alias("u"), F.greatest("src", "dst").alias("v")
            )
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        e_dir = e0.select(F.col("u").alias("src"), F.col("v").alias("dst"))
        verts = (
            e0.select(F.col("u").alias("id"))
            .unionByName(e0.select(F.col("v").alias("id")))
            .distinct()
        )
        comp = wcc_star(e_dir, verts)
        roots = comp.select(F.col("comp").alias("id")).distinct()
        levels = bfs_tree(e_dir, roots, max_depth=max_depth, undirected=True)
        tree = loop.ckpt(levels)
        loop.free(levels)  # the BFS levels, now folded into the tree
        maxd = tree.agg(F.max("dist")).first()[0] or 0

        # -- bottom-up subtree sizes, one BFS level per superstep
        sz_levels: list[DataFrame] = []
        below: DataFrame | None = None
        for d in range(maxd, -1, -1):
            level = tree.where(F.col("dist") == d).select("id")
            if below is None:
                nd = level.select("id", F.lit(1).cast("long").alias("nd"))
            else:
                child_sum = (
                    tree.where(F.col("dist") == d + 1)
                    .select("id", "parent")
                    .join(below, "id")
                    .groupBy(F.col("parent").alias("id"))
                    .agg(F.sum("nd").alias("_c"))
                )
                nd = level.join(child_sum, "id", "left").select(
                    "id", (F.coalesce("_c", F.lit(0)) + 1).cast("long").alias("nd")
                )
            nd = loop.ckpt(nd)
            sz_levels.append(nd)
            below = nd
        nd_all = _union(sz_levels)

        # -- preorder: per-parent sibling prefix offsets, then top-down
        w_sib = (
            Window.partitionBy("parent")
            .orderBy("id")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        off = (
            tree.where(F.col("parent").isNotNull())
            .join(nd_all, "id")
            .select(
                "id",
                "parent",
                "dist",
                F.coalesce(F.sum("nd").over(w_sib), F.lit(0)).alias("off"),
            )
        )
        # root offsets: exclusive prefix sum of subtree sizes over the roots
        # (one per connected component — |V|-shaped on a graph of many small
        # components, so NEVER a SinglePartition window; r11, the same
        # range-repartition fix dfs_preorder got in r10)
        from .curation import global_prefix_sum

        pre_levels = [
            loop.ckpt(
                global_prefix_sum(
                    roots.join(nd_all, "id"), ["id"], "nd", out_name="pre"
                ).select("id", "pre")
            )
        ]
        cur = pre_levels[0]
        for d in range(1, maxd + 1):
            cur = loop.ckpt(
                off.where(F.col("dist") == d)
                .join(
                    cur.select(F.col("id").alias("parent"), F.col("pre").alias("_pp")),
                    "parent",
                )
                .select("id", (F.col("_pp") + 1 + F.col("off")).alias("pre"))
            )
            pre_levels.append(cur)
        pre_all = _union(pre_levels)
        info = loop.ckpt(pre_all.join(nd_all, "id"))  # (id, pre, nd)

        # -- non-tree edges and low/high initial values
        te = tree.where(F.col("parent").isNotNull()).select(
            F.least("parent", "id").alias("u"), F.greatest("parent", "id").alias("v")
        )
        nt = loop.ckpt(e0.join(te, ["u", "v"], "left_anti"))
        nt_und = nt.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
            nt.select(F.col("v").alias("a"), F.col("u").alias("b"))
        )
        nbext = (
            nt_und.join(
                info.select(F.col("id").alias("b"), F.col("pre").alias("_bp")), "b"
            )
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("_bp").alias("_nlo"), F.max("_bp").alias("_nhi"))
        )
        init = loop.ckpt(info.join(nbext, "id", "left").select(
            "id",
            F.least(F.col("pre"), F.coalesce("_nlo", F.col("pre"))).alias("lo0"),
            F.greatest(F.col("pre"), F.coalesce("_nhi", F.col("pre"))).alias("hi0"),
        ))

        # -- bottom-up low/high
        lh_levels: list[DataFrame] = []
        below = None
        for d in range(maxd, -1, -1):
            lvl = tree.where(F.col("dist") == d).select("id", "parent").join(init, "id")
            if below is None:
                lvl = lvl.select(
                    "id", "parent", F.col("lo0").alias("lo"), F.col("hi0").alias("hi")
                )
            else:
                ch = (
                    tree.where(F.col("dist") == d + 1)
                    .select("id", "parent")
                    .join(below.select("id", "lo", "hi"), "id")
                    .groupBy(F.col("parent").alias("id"))
                    .agg(F.min("lo").alias("_clo"), F.max("hi").alias("_chi"))
                )
                lvl = lvl.join(ch, "id", "left").select(
                    "id",
                    "parent",
                    F.least("lo0", F.coalesce("_clo", F.col("lo0"))).alias("lo"),
                    F.greatest("hi0", F.coalesce("_chi", F.col("hi0"))).alias("hi"),
                )
            lvl = loop.ckpt(lvl)
            lh_levels.append(lvl)
            below = lvl
        lh_all = _union(lh_levels)

        # -- auxiliary graph (vertex = non-root vertex w ≡ tree edge (p(w), w))
        iu = info.select(
            F.col("id").alias("u"), F.col("pre").alias("_up"), F.col("nd").alias("_un")
        )
        iv = info.select(
            F.col("id").alias("v"), F.col("pre").alias("_vp"), F.col("nd").alias("_vn")
        )
        nt_i = loop.ckpt(nt.join(iu, "u").join(iv, "v"))
        u_anc_v = (F.col("_up") <= F.col("_vp")) & (
            F.col("_vp") < F.col("_up") + F.col("_un")
        )
        v_anc_u = (F.col("_vp") <= F.col("_up")) & (
            F.col("_up") < F.col("_vp") + F.col("_vn")
        )
        aux_a = nt_i.where(~u_anc_v & ~v_anc_u).select(
            F.col("u").alias("src"), F.col("v").alias("dst")
        )
        pv = info.select(
            F.col("id").alias("parent"), F.col("pre").alias("_pp"), F.col("nd").alias("_pn")
        )
        aux_b = (
            lh_all.where(F.col("parent").isNotNull())
            .join(roots.select(F.col("id").alias("parent")), "parent", "left_anti")
            .join(pv, "parent")
            .where(
                (F.col("lo") < F.col("_pp"))
                | (F.col("hi") >= F.col("_pp") + F.col("_pn"))
            )
            .select(F.col("parent").alias("src"), F.col("id").alias("dst"))
        )
        aux_nodes = tree.where(F.col("parent").isNotNull()).select("id")
        bcc = wcc_star(aux_a.unionByName(aux_b), aux_nodes)
        lab_w = bcc.select(F.col("id").alias("_w"), F.col("comp").alias("bcc"))

        # -- every graph edge → its block
        tree_lab = (
            tree.where(F.col("parent").isNotNull())
            .join(lab_w, tree["id"] == lab_w["_w"])
            .select(
                F.least("parent", "id").alias("src"),
                F.greatest("parent", "id").alias("dst"),
                "bcc",
            )
        )
        nt_lab = (
            nt_i.select(
                "u",
                "v",
                F.when(F.col("_up") >= F.col("_vp"), F.col("u"))
                .otherwise(F.col("v"))
                .alias("_w"),
            )
            .join(lab_w, "_w")
            .select(F.col("u").alias("src"), F.col("v").alias("dst"), "bcc")
        )
        out = tree_lab.unionByName(nt_lab)
        return loop.result(out)


def articulation_points(edges: DataFrame, max_depth: int = 40) -> DataFrame:
    """gds.articulationPoints: vertices whose removal disconnects their
    component — exactly the vertices incident to ≥ 2 biconnected
    components. One countDistinct over the edge→block labeling."""
    lab = biconnected_components(edges, max_depth=max_depth)
    return (
        lab.select(F.col("src").alias("id"), "bcc")
        .unionByName(lab.select(F.col("dst").alias("id"), "bcc"))
        .groupBy("id")
        .agg(F.countDistinct("bcc").alias("_nb"))
        .where(F.col("_nb") >= 2)
        .select("id")
    )


def bridges(edges: DataFrame, max_depth: int = 40) -> DataFrame:
    """gds.bridges: edges whose removal disconnects their component —
    exactly the single-edge biconnected components. Canonical (src < dst)
    endpoint pairs."""
    lab = biconnected_components(edges, max_depth=max_depth)
    singleton = (
        lab.groupBy("bcc").agg(F.count("*").alias("_n")).where(F.col("_n") == 1)
    )
    return lab.join(singleton, "bcc", "left_semi").select("src", "dst")


def steiner_tree(
    edges: DataFrame,
    terminals: DataFrame,
    weight_col: str = "weight",
    max_iter: int = 30,
) -> DataFrame:
    """gds.steinerTree — Mehlhorn's 2-approximation, the textbook
    distributed construction (every stage is an existing BSP primitive):

    1. Voronoi partition: multi-source Dijkstra from ALL terminals at
       once; every vertex learns (dist, terminal, parent, parent-edge
       weight) to its nearest terminal, ties broken by (dist, terminal
       id, parent id) so the partition is deterministic.
    2. Terminal graph: every original edge {u,v} whose endpoints sit in
       different cells proposes terminal-edge (t(u), t(v)) with weight
       d(u)+w+d(v); min_by keeps the best proposal per terminal pair
       (tie-break again by the full struct).
    3. MST of the terminal graph — ``spanning_forest`` (Borůvka).
    4. Unfold each chosen proposal: the bridging edge {u,v} plus the two
       Dijkstra parent-pointer walks u→t(u), v→t(v) (BSP walk, one join
       per level).
    5. Peel non-terminal leaves until fixpoint (the unfolded union can
       contain redundant tails; peeling only ever removes weight).

    Returns the tree edge list (src, dst, weight), src < dst, deduped.
    Weight ≤ 2·OPT (Mehlhorn 1988). Rows-only in the catalog: stages 1-5
    are exact and deterministic, but an MST inside a recursive CTE is not
    SQL-expressible — pytest replays an exact Python twin instead.
    """
    with bsp(edges) as loop:
        und = loop.pin(
            edges.select("src", "dst", F.col(weight_col).cast("double").alias("w"))
            .unionByName(
                edges.select(
                    F.col("dst").alias("src"),
                    F.col("src").alias("dst"),
                    F.col(weight_col).cast("double").alias("w"),
                )
            )
            .where(F.col("src") != F.col("dst"))
            .groupBy("src", "dst")
            .agg(F.min("w").alias("w")),
            "src",
        )

        # -- 1. multi-source Dijkstra: state (id, dist, term, parent, pw)
        # One merge per superstep (r14, guide §2.4, the ``sssp`` template):
        # improvement check and state merge are a single full-outer join +
        # eager checkpoint carrying an ``_imp`` flag; the frontier is a lazy
        # filter over the merged state.
        def relax(state: DataFrame) -> DataFrame:
            cand = (
                loop.join(_improved(state, "dist", "term"), und)
                .select(
                    F.col("dst").alias("id"),
                    (F.col("dist") + F.col("w")).alias("_nd"),
                    F.col("term").alias("_nt"),
                    F.col("src").alias("_np"),
                    F.col("w").alias("_npw"),
                )
                .groupBy("id")
                .agg(
                    F.min_by(
                        F.struct("_nd", "_nt", "_np", "_npw"),
                        F.struct("_nd", "_nt", "_np"),
                    ).alias("s")
                )
                .select("id", "s._nd", "s._nt", "s._np", "s._npw")
            )
            imp = F.col("_nd").isNotNull() & (
                F.col("dist").isNull()
                | (
                    F.struct(
                        F.col("_nd").alias("dist"),
                        F.col("_nt").alias("term"),
                        F.col("_np").alias("parent"),
                    )
                    < F.struct("dist", "term", "parent")
                )
            )
            return state.join(cand, "id", "full").select(
                "id",
                F.when(imp, F.col("_nd")).otherwise(F.col("dist")).alias("dist"),
                F.when(imp, F.col("_nt")).otherwise(F.col("term")).alias("term"),
                F.when(imp, F.col("_np")).otherwise(F.col("parent")).alias("parent"),
                F.when(imp, F.col("_npw")).otherwise(F.col("pw")).alias("pw"),
                imp.alias("_imp"),
            )

        seed = terminals.select("id").distinct().select(
            "id",
            F.lit(0.0).alias("dist"),
            F.col("id").alias("term"),
            F.lit(None).cast("long").alias("parent"),
            F.lit(0.0).alias("pw"),
        )
        state = loop.fixpoint(seed, relax, max_iter, "_imp")

        # -- 2. terminal-graph proposals (keep the bridging edge for unfold)
        su = state.select(
            F.col("id").alias("src"),
            F.col("dist").alias("_du"),
            F.col("term").alias("_tu"),
        )
        sv = state.select(
            F.col("id").alias("dst"),
            F.col("dist").alias("_dv"),
            F.col("term").alias("_tv"),
        )
        cross = (
            und.join(su, "src")
            .join(sv, "dst")
            .where(F.col("_tu") != F.col("_tv"))
            .select(
                F.least("_tu", "_tv").alias("ta"),
                F.greatest("_tu", "_tv").alias("tb"),
                (F.col("_du") + F.col("w") + F.col("_dv")).alias("tw"),
                "src",
                "dst",
                "w",
            )
        )
        best = loop.ckpt(
            cross.groupBy("ta", "tb")
            .agg(
                F.min_by(
                    F.struct("tw", "src", "dst", "w"), F.struct("tw", "src", "dst")
                ).alias("b")
            )
            .select("ta", "tb", "b.tw", "b.src", "b.dst", "b.w")
        )

        # -- 3. MST over the terminal graph
        tnodes = terminals.select("id").distinct()
        mst = spanning_forest(
            best.select(F.col("ta").alias("src"), F.col("tb").alias("dst"), "tw"),
            tnodes,
            weight_col="tw",
        )
        chosen = mst.select(
            F.least("src", "dst").alias("ta"), F.greatest("src", "dst").alias("tb")
        ).join(best, ["ta", "tb"])

        # -- 4. unfold: bridging edges + both parent-pointer walks
        bridge = chosen.select("src", "dst", "w")
        walk_seed = chosen.select(F.col("src").alias("id")).unionByName(
            chosen.select(F.col("dst").alias("id"))
        ).distinct()
        parts = [bridge]
        cur = loop.ckpt(walk_seed)
        ps = state.select("id", "parent", "pw")
        for _ in range(max_iter):
            step = loop.ckpt(cur.join(ps, "id").where(F.col("parent").isNotNull()))
            if step.isEmpty():
                break
            parts.append(
                step.select(F.col("id").alias("src"), F.col("parent").alias("dst"), F.col("pw").alias("w"))
            )
            # the next frontier is a lazy distinct over the checkpointed
            # step — the next round's step checkpoint materializes it (r14,
            # guide §2.4: no per-level frontier checkpoint job)
            cur = step.select(F.col("parent").alias("id")).distinct()
        tree = _union(parts)
        tree = loop.advance(loop.ckpt(
            tree.select(
                F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst"), "w"
            ).groupBy("src", "dst")
            .agg(F.min("w").alias("weight"))
        ), "tree")
        # the MST's internal state is folded into the tree checkpoint now;
        # the Dijkstra state, walk levels and terminal-graph frame go on exit
        loop.free(mst)

        # -- 5. peel non-terminal leaves; each checkpoint fully replaces the
        # tree before it
        for _ in range(max_iter):
            deg = (
                tree.select(F.col("src").alias("id"))
                .unionByName(tree.select(F.col("dst").alias("id")))
                .groupBy("id")
                .agg(F.count("*").alias("_d"))
            )
            drop = deg.where(F.col("_d") == 1).join(tnodes, "id", "left_anti")
            if drop.isEmpty():
                break
            leaf = drop.select(F.col("id").alias("_leaf"))
            tree = loop.advance(loop.ckpt(
                tree.join(leaf, tree["src"] == F.col("_leaf"), "left_anti")
                .join(leaf, tree["dst"] == F.col("_leaf"), "left_anti")
            ), "tree")
        return loop.result(tree.select("src", "dst", "weight"))


def astar(
    edges: DataFrame,
    coords: DataFrame,
    source: int,
    target: int,
    weight_col: str = "weight",
    max_iter: int = 100,
) -> DataFrame:
    """gds.shortestPath.astar — single-pair A* over (id, x, y) coordinates
    with the euclidean heuristic. Exact whenever the heuristic is
    admissible (every edge weight ≥ the euclidean distance between its
    endpoints — the caller's contract, as with GDS's haversine variant).

    BSP label-correcting Dijkstra whose frontier is A*-pruned: after each
    relaxation round, improved labels with dist + h(v) STRICTLY above the
    best goal cost so far are dropped — with an admissible h no vertex on
    any optimal path (nor any argmin predecessor feeding one: f is
    non-increasing backward along parent chains) can be pruned, so the
    final (dist, parent) labels on the path equal plain Dijkstra's and the
    result replays exactly in SQL. Ties (dist, then parent id) make the
    returned path canonical.

    Returns one row: (total_cost, path) with path = csv of node ids
    source→target. Empty frame if the target is unreachable.
    """
    with bsp(edges) as loop:
        e = loop.pin(
            edges.select("src", "dst", F.col(weight_col).cast("double").alias("w")), "src"
        )
        trow = coords.where(F.col("id") == target).select("x", "y").first()
        if trow is None:
            raise ValueError(f"astar: target {target} has no coordinates")
        hx, hy = float(trow[0]), float(trow[1])
        h = F.sqrt(
            (F.col("x") - F.lit(hx)) * (F.col("x") - F.lit(hx))
            + (F.col("y") - F.lit(hy)) * (F.col("y") - F.lit(hy))
        )
        hcol = coords.select("id", h.alias("_h"))
        state = loop.advance(loop.ckpt(
            local_df(e.sparkSession, [(source, 0.0, None)], "id long, dist double, parent long")
        ))
        # One merge per superstep (r14, guide §2.4, the ``sssp`` template):
        # improvement check, A*-prune and state merge are a single join
        # lineage ending in ONE eager checkpoint carrying an ``_imp`` flag;
        # the emptiness probe and the goal-cost read are exchange-free reads
        # over the checkpoint.
        best = float("inf")
        for _ in range(max_iter):
            cand = (
                loop.join(_improved(state, "dist"), e)
                .select(
                    F.col("dst").alias("id"),
                    (F.col("dist") + F.col("w")).alias("_nd"),
                    F.col("src").alias("_np"),
                )
                .groupBy("id")
                .agg(
                    F.min_by(F.struct("_nd", "_np"), F.struct("_nd", "_np")).alias("s")
                )
                .select("id", "s._nd", "s._np")
            )
            imp = F.col("_nd").isNotNull() & (
                F.col("dist").isNull()
                | (
                    F.struct(F.col("_nd").alias("dist"), F.col("_np").alias("parent"))
                    < F.struct("dist", "parent")
                )
            )
            merged = state.join(cand, "id", "full")
            if best != float("inf"):
                # admissible-heuristic prune: an improvement whose optimistic
                # total exceeds the best goal cost so far is NOT entered
                merged = merged.join(hcol, "id", "left")
                imp = imp & (
                    F.col("_h").isNull() | (F.col("_nd") + F.col("_h") <= F.lit(best))
                )
            state = loop.advance(loop.ckpt(
                merged.select(
                    "id",
                    F.when(imp, F.col("_nd")).otherwise(F.col("dist")).alias("dist"),
                    F.when(imp, F.col("_np")).otherwise(F.col("parent")).alias("parent"),
                    imp.alias("_imp"),
                )
            ))
            if state.where("_imp").isEmpty():
                break
            goal = state.where(F.col("id") == target).select("dist").first()
            if goal is not None:
                best = float(goal[0])
        goal = state.where(F.col("id") == target).select("dist").first()
        if goal is None:
            return local_df(state.sparkSession, [], "total_cost double, path string")
        # parent-pointer walk target→source (path-length-bounded supersteps)
        ps = state.select("id", "parent")
        cur = loop.ckpt(local_df(state.sparkSession, [(target, 0)], "id long, k int"))
        hops = [cur]
        for _ in range(max_iter):
            nxt = loop.ckpt(
                cur.join(ps, "id")
                .where(F.col("parent").isNotNull())
                .select(F.col("parent").alias("id"), (F.col("k") + 1).alias("k"))
            )
            if nxt.isEmpty():
                break
            hops.append(nxt)
            cur = nxt
        walk = _union(hops)
        return loop.result(walk.agg(
            F.lit(float(goal[0])).alias("total_cost"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(F.struct(F.col("k").alias("k"), F.col("id").alias("i"))),
                        asc=False,
                    ),
                    lambda s: s["i"].cast("string"),
                ),
            ).alias("path"),
        ))


def triangle_list(edges: DataFrame) -> DataFrame:
    """gds.alpha.triangles — ENUMERATE the triangles (a < b < c), one row
    each, rather than just counting them. Same degree-bounded wedge
    closure as ``triangle_count``; the canonical ordering makes the
    listing deterministic and join-keyed (a,b)/(b,c)/(a,c) — no
    cartesian anywhere."""
    e = (
        edges.select(
            F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
    )
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    return (
        ab.join(bc, "y")
        .join(ac, ["x", "z"])
        .select(F.col("x").alias("a"), F.col("y").alias("b"), F.col("z").alias("c"))
    )


def rwr_sample(
    edges: DataFrame,
    seed: int,
    walks: int = 8,
    steps: int = 20,
    restart: float = 0.15,
    salt: str = "rwr",
    undirected: bool = True,
) -> DataFrame:
    """gds.graph.sample.rwr — random-walk-with-restart sampling with the
    same DETERMINISTIC hash draws as ``random_walk``: ``walks`` parallel
    walks start at ``seed``; at step k a walk restarts to the seed when
    ``md5(salt‖'r'‖k‖walk_id) < hex-threshold(restart)`` (string compare
    against the 4-hex-digit bucket boundary — engine-portable), otherwise
    it moves to the out-neighbor with the minimum
    ``md5(salt‖k‖current‖neighbor)``. Sink nodes always restart. Returns
    the sampled node set with visit counts: (id, visits) — the node
    universe a sampled-subgraph projection keeps.

    Per step the state is ``walks`` rows — one join + one min_by — so
    sampling cost is O(steps · walks) rows of state regardless of graph
    size.
    """
    from .curation import hex_thr  # 4-hex-digit bucket boundary

    thr = hex_thr(restart)
    with scope() as loop:
        e = loop.pin(undirect(edges) if undirected else edges.select("src", "dst"), "src")
        spark = edges.sparkSession
        cur = loop.ckpt(spark.range(walks).select(
            F.col("id").alias("walk_id"), F.lit(seed).cast("long").alias("id")
        ))
        out = [cur]
        for k in range(1, steps + 1):
            draw = F.md5(
                F.concat_ws("|", F.lit(salt), F.lit(str(k)), F.col("id"), F.col("dst"))
            )
            stepped = (
                cur.join(e, cur["id"] == e["src"])
                .select("walk_id", "dst", draw.alias("_h"))
                .groupBy("walk_id")
                .agg(F.min_by("dst", F.col("_h")).alias("_next"))
            )
            rdraw = F.md5(
                F.concat_ws("|", F.lit(salt), F.lit("r"), F.lit(str(k)), F.col("walk_id"))
            )
            cur = loop.ckpt(cur.join(stepped, "walk_id", "left").select(
                "walk_id",
                F.when(
                    (rdraw < F.lit(thr)) | F.col("_next").isNull(),
                    F.lit(seed).cast("long"),
                )
                .otherwise(F.col("_next"))
                .alias("id"),
            ))
            out.append(cur)
        return loop.result(
            _union(out).groupBy("id").agg(F.count("*").cast("long").alias("visits"))
        )


def ktruss(edges: DataFrame, k: int = 3, max_rounds: int = 20) -> DataFrame:
    """k-truss: the maximal subgraph where every edge participates in at
    least k−2 triangles (the edge-support cousin of k-core — a standard
    cohesive-subgraph peel). Iteratively: count each surviving edge's
    triangle support via the same degree-bounded wedge closure as
    ``triangle_count`` (each triangle a<b<c charges all three edges),
    drop edges under k−2, repeat to fixpoint. Peel depth is the cascade
    length; each round is two equi-joins + one groupBy, never all-pairs.

    Returns the surviving canonical edges (src < dst).
    """
    with scope() as loop:
        e = loop.advance(loop.ckpt(
            edges.select(
                F.least("src", "dst").alias("a"), F.greatest("src", "dst").alias("b")
            )
            .where(F.col("a") != F.col("b"))
            .distinct()
        ))
        need = k - 2
        # r14 (guide §2.4): `support`'s (a,b) pairs are all drawn from e's rows
        # (each triangle side IS an e-edge), so the former e ⋉ support semi-join
        # was an identity — dropped, along with its per-round exchange. The
        # surviving-edge count doubles as the lazy checkpoint's materializing
        # action, and the previous round's count is a remembered int instead of
        # a second count job.
        n_e = e.count()
        for _ in range(max_rounds):
            ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
            bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
            ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
            tri = ab.join(bc, "y").join(ac, ["x", "z"])
            kept = loop.ckpt(
                tri.select(F.col("x").alias("a"), F.col("y").alias("b"))
                .unionByName(tri.select(F.col("y").alias("a"), F.col("z").alias("b")))
                .unionByName(tri.select(F.col("x").alias("a"), F.col("z").alias("b")))
                .groupBy("a", "b")
                .agg(F.count("*").alias("_s"))
                .where(F.col("_s") >= need)
                .select("a", "b"),
                eager=False,
            )
            n_kept = kept.count()
            e = loop.advance(kept)
            if n_kept == n_e or n_kept == 0:
                break
            n_e = n_kept
        return loop.result(e.select(F.col("a").alias("src"), F.col("b").alias("dst")))


def dfs_preorder(
    edges: DataFrame,
    sources: DataFrame,
    max_iter: int = 30,
) -> DataFrame:
    """gds.dfs parity: depth-first preorder from a source set, neighbors
    visited in ascending node-id order — (id, path, pre).

    DFS is inherently sequential, but its OUTPUT is order-definable
    without sequential execution: with ascending-id tie-breaking, the
    DFS discovery path of each reachable node is the lexicographically
    smallest simple path from the sources (prefix-first comparison: a
    parent's path sorts before every descendant's), and preorder rank is
    the rank of that path among all reachable nodes' paths. So the
    engine computes a BSP min-path fixpoint — each superstep relaxes the
    improved frontier's paths over their out-edges (cycle-blocked with
    ``array_contains``), keeping the array-min per node; Spark compares
    arrays lexicographically natively, so the whole superstep is one
    edge-partitioned join + groupBy-min, no Python. Min-paths are
    prefix-closed (a min path's every prefix is its endpoint's min
    path), which is exactly why per-node relaxation converges to the
    true DFS tree.

    The final preorder rank ranks paths globally via
    ``curation.global_rank`` (range repartition + broadcast offsets —
    r10, replacing the r9 single-partition ``Window.orderBy``; paths
    are unique per node, so the order is total).

    Reference: GDS dfs procedure (plugin namespace gds.*,
    calver/coredb/neo4j-plugins.json).
    """
    from .curation import global_rank

    with bsp(edges) as loop:
        e = loop.pin(edges.select("src", "dst").distinct(), "src")

        # One merge per superstep (r14, guide §2.4): improvement check and
        # merge are a single full-outer join + eager checkpoint.
        def relax(best: DataFrame) -> DataFrame:
            cand = (
                loop.join(_improved(best, "path"), e)
                .where(~F.array_contains(F.col("path"), F.col("dst")))
                .select(
                    F.col("dst").alias("id"),
                    F.concat(F.col("path"), F.array(F.col("dst"))).alias("path"),
                )
                .groupBy("id")
                .agg(F.min("path").alias("_new"))
            )
            imp = F.col("_new").isNotNull() & (
                F.col("path").isNull() | (F.col("_new") < F.col("path"))
            )
            return best.join(cand, "id", "full").select(
                "id",
                F.when(imp, F.col("_new")).otherwise(F.col("path")).alias("path"),
                imp.alias("_imp"),
            )

        seed = sources.select("id", F.array("id").alias("path"))
        best = loop.fixpoint(seed, relax, max_iter, "_imp").select("id", "path")
        ranked = global_rank(best.select("id", "path"), ["path"], rank_name="_pre1")
        return loop.result(ranked.select(
            "id", "path", (F.col("_pre1") - 1).cast("long").alias("pre")
        ))


