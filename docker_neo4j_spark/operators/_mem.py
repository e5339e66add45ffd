"""BSP loop scope and release helpers for checkpointed frames.

``DataFrame.unpersist()`` only removes catalog-cached queries; the blocks
behind ``localCheckpoint`` (eager or lazy) register as *persistent RDDs*
(exactly the class of blocks ``bench.py`` has to clear with
``getPersistentRDDs()`` between queries, because ``clearCache()`` misses
them). Every "superseded BSP state frame" release in the iterative
kernels therefore silently no-opped until r14: pinned frames accumulated
O(rounds) deep until the session (or the bench harness) swept them.

``release`` frees a checkpointed frame's blocks through the underlying
``LogicalRDD``; on a plain derived frame it falls back to the ordinary
(catalog) unpersist, so call sites can treat it as "free this frame"
regardless of how the frame was produced.

CAUTION: a locally-checkpointed RDD's lineage is truncated — its blocks
cannot be recomputed after release. Only release a frame once every
frame derived from it has materialized (the kernels' "one round behind"
discipline).

``scope`` owns the frame lifetimes of every GDS kernel: each pin and
checkpoint a kernel takes goes through its ``BSPLoop``, which releases
superseded states one round behind, frees on exit (including on error)
everything the result does not read, and hands what the result does read
to the enclosing scope, so a kernel that calls another frees the nested
result once it is folded in. ``bsp`` is ``scope`` under
``static_loop_plan``, the superstep template of the kernels whose rounds
are planned statically: pinned edge layouts, the state-side join and the
checkpoint/probe fixpoint (see ``BSPLoop``). Every frame a round reads is
a checkpoint leaf (the pins, the state), so each superstep plans against
a scan of materialized rows rather than the inputs' whole derivation.
"""

from __future__ import annotations

import math
import threading
from contextlib import contextmanager
from typing import Callable, Iterator

from pyspark.sql import DataFrame, SparkSession

# Bytes of edge frame per loop partition. Deliberately smaller than AQE's
# 64 MB advisory: AQE coalescing only resizes a post-shuffle reduce side,
# while the loop width also carries the whole superstep's join compute over
# the co-partitioned edge cache (measured sf0.1: pagerank needs ≥4 even
# though its edge cache is ~53 MiB; 64 MB would pick 1 and run 2× slower).
LOOP_TARGET_PARTITION_BYTES = 8 << 20


def _loop_width(spark: SparkSession, sized_by: DataFrame | None, slots: int = 1) -> int:
    """Static shuffle width for a BSP loop body, derived from the bytes its
    rounds move.

    With AQE off inside ``static_loop_plan`` there is no partition
    coalescing, so a loop would otherwise run every per-round shuffle at
    the session's full ``spark.sql.shuffle.partitions`` — a constant tuned
    for the whole cluster, paying ~width empty tasks per round on small
    graphs. Re-derive the width the way AQE's coalescing would: enough
    partitions to keep each at ``LOOP_TARGET_PARTITION_BYTES``, at least
    1, capped at the session setting so a cluster-tuned config is never
    exceeded. ``sized_by`` is the kernel's edge frame — the one large
    input every per-round join streams through — and ``slots`` the number
    of per-node state slots a round carries through it: 1 for (id, value)
    kernels, the source count S for the multi-source sweeps, whose rounds
    move S values per edge (source-indexed arrays or source × node rows).
    Sizing uses Catalyst's estimate for that frame (same signal AQE plans
    from); ``None`` and unknown/huge estimates hit the cap, so at the
    100 TB target this is a no-op.
    """
    cap = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    if sized_by is None:
        return cap
    try:
        raw = (
            sized_by._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        # py4j converts scala.math.BigInt to int when it fits; be defensive.
        size = (raw if isinstance(raw, int) else int(str(raw))) * slots
        return max(min(math.ceil(size / LOOP_TARGET_PARTITION_BYTES), cap), 1)
    except Exception:  # noqa: BLE001 - sizing is best-effort
        return cap


@contextmanager
def static_loop_plan(
    spark: SparkSession, sized_by: DataFrame | None = None, slots: int = 1
):
    """Plan a BSP kernel body with the static planner (AQE off, restored).

    The iterative kernels engineer their per-round physical shape by hand:
    the edge frame is pinned once as a ``repartition(key)`` checkpoint, and
    each round's state checkpoint comes out of a ``groupBy(key)`` whose hash
    partitioning ``localCheckpoint`` preserves — so the round's state⋈edges
    join needs no exchange on either side. AQE silently defeats both halves (measured r14,
    gds_pagerank at sf0.1):

    - a join against a checkpointed state sees ``LogicalRDD``'s unknown
      (huge) size stats, so Catalyst broadcasts the OTHER side — rebuilding
      a fresh BroadcastExchange of the whole cached EDGE frame every round
      (52.7 MiB × 15 rounds on the headline row; at the 100 TB target that
      side does not fit in driver memory at all), and
    - AQE's partition coalescing rewrites the state aggregate's output
      partitioning, so the next round's join re-exchanges BOTH sides.

    With the static planner the checkpoint's hash partitioning survives and
    a ``shuffle_hash`` hint on the (small) state side plans the round as a
    zero-exchange ShuffledHashJoin: edges never move, only the ≤|N|-row
    aggregate output shuffles — the textbook Pregel cost model. Measured
    (interleaved A/B, sf0.1 pagerank): 82 → 25 jobs, every paired run
    faster, bit-identical output. Skew note: per-round aggregates group by
    node id over the co-partitioned layout the kernel chose; AQE's
    skew-join splitting only rewrites sort-merge joins, which these loops
    deliberately do not contain, so nothing is lost at cluster scale.

    ``sized_by`` and ``slots``: with AQE off there is no partition
    coalescing, so the loop body also runs under a
    ``spark.sql.shuffle.partitions`` re-derived from the kernel's
    edge-frame size times its per-node state slots (see ``_loop_width``)
    instead of the session constant — every ``repartition(key)``/``groupBy``
    inside the body resolves its width from it at plan time, so the
    state↔edge co-partitioning (and the zero-exchange rounds) hold at ANY
    width. Only ``sized_by=None`` runs at the session width."""
    prev = spark.conf.get("spark.sql.adaptive.enabled", "true")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions", "200")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(
        "spark.sql.shuffle.partitions", str(_loop_width(spark, sized_by, slots))
    )
    try:
        yield
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)
        spark.conf.set("spark.sql.shuffle.partitions", prev_parts)


class BSPLoop:
    """The frame lifetimes one ``scope`` owns, and the superstep template
    of a ``bsp`` scope (Pregelix-shaped: state ⋈ edges → group-by →
    convergence check, physical choices made once). Every frame the kernel
    pins or checkpoints goes through the scope, which is what lets it free
    them:

    - ``advance`` frees a chain's superseded state, ``free`` any owned
      checkpoint once the frames derived from it have materialized;
    - normal exit frees every owned checkpoint the frames passed to
      ``result`` do not read (superseded states, scratch levels) and hands
      the ones they do read to the enclosing scope, if any;
    - an exception frees all of them, so a failed call leaves nothing
      pinned on a shared session.
    """

    def __init__(self) -> None:
        self._owned: dict[int, DataFrame] = {}  # checkpoint RDD id → frame
        self._kept: list[DataFrame] = []
        self._chains: dict[str, DataFrame] = {}
        self.converged = False

    def pin(self, frame: DataFrame, key: str | None = None) -> DataFrame:
        """``repartition(key)`` a frame every round reads and take a lazy
        ``localCheckpoint`` of it (no repartition without a key); freed on
        exit unless a result reads it.

        A checkpoint, not a cache: every round then plans against a scan
        of materialized rows instead of re-analyzing the frame's whole
        derivation (a catalog projection's edge frame carries hundreds of
        plan lines). Lazy, because the first round's job materializes it
        at no extra job, where an eager one costs a job per pin. The
        checkpoint keeps the repartition's hash partitioning, so the
        round's join against it stays exchange-free."""
        return self.ckpt(frame if key is None else frame.repartition(key), eager=False)

    def ckpt(self, df: DataFrame, eager: bool = True) -> DataFrame:
        """``localCheckpoint`` — the superstep barrier that truncates
        lineage (plan depth would otherwise grow with every round)."""
        out = df.localCheckpoint(eager=eager)
        for r in _checkpoint_rdds(out):
            self._owned[r.id()] = out
        return out

    @staticmethod
    def join(
        state: DataFrame, edges: DataFrame, key: str = "id", edge_key: str = "src"
    ) -> DataFrame:
        """The superstep join, state side hinted ``shuffle_hash``.

        A checkpoint-derived state has no size stats, so the planner would
        otherwise broadcast the cached EDGE frame — a fresh |E|-row
        BroadcastExchange every round. The state is hash(key)-partitioned
        by last round's groupBy (``localCheckpoint`` preserves it) and the
        pinned edges by ``repartition(edge_key)``, so a ShuffledHashJoin
        that builds over the state streams the edges in place with no
        exchange on either side (see ``static_loop_plan``)."""
        return state.hint("shuffle_hash").join(edges, state[key] == edges[edge_key])

    def advance(self, new: DataFrame, chain: str = "state") -> DataFrame:
        """Make ``new`` the chain's current state and release the state it
        supersedes, one round behind. Call only after the action that
        materializes ``new``: until then a lazy checkpoint still reads its
        predecessor's blocks."""
        self.free(self._chains.get(chain))
        self._chains[chain] = new
        return new

    def free(self, df: DataFrame | None) -> None:
        """Release now every owned checkpoint ``df`` reads — a superseded
        state, or a nested kernel's result once it is folded in. Only
        checkpoints this scope took (or a nested scope handed it) are
        touched, never the caller's inputs. Call only once every frame
        derived from them has materialized."""
        if df is None:
            return
        for r in _checkpoint_rdds(df):
            release(self._owned.pop(r.id(), None))

    def fixpoint(
        self,
        state: DataFrame,
        update: Callable[[DataFrame], DataFrame],
        max_iter: int,
        flag: str,
    ) -> DataFrame:
        """Iterate ``state ← checkpoint(update(state))`` until no row of the
        new state has ``flag`` set, at most ``max_iter`` rounds.

        One job per round: the eager checkpoint materializes through a
        plain RDD job and the probe is an exchange-free ``take(1)`` over
        the flag filter (A/B-measured faster than a lazy checkpoint whose
        ``count()`` adds an aggregate exchange per round). Sets
        ``converged`` when the probe, not the cap, ended the loop."""
        state = self.advance(self.ckpt(state))
        for _ in range(max_iter):
            state = self.ckpt(update(state))
            done = state.where(flag).isEmpty()
            self.advance(state)
            if done:
                self.converged = True
                break
        return state

    def result(self, df: DataFrame) -> DataFrame:
        """Mark ``df`` as returned: the pins and checkpoints it reads
        outlive the scope (an enclosing scope takes them over; a top-level
        caller owns them and ``release_deep`` frees them). A released
        checkpoint cannot be recomputed from lineage."""
        self._kept.append(df)
        return df

    def _close(self, outer: BSPLoop | None) -> None:
        kept = {r.id() for df in self._kept for r in _checkpoint_rdds(df)}
        for rid, df in self._owned.items():
            if rid not in kept:
                release(df)
            elif outer is not None:
                outer._owned[rid] = df


# open scopes, innermost last; per thread, because the Bolt and HTTP servers
# run statements on several threads at once
_scopes = threading.local()


@contextmanager
def scope() -> Iterator[BSPLoop]:
    """Own a kernel's frame lifetimes (see ``BSPLoop``) under the session
    planner. Scopes nest per thread: a kernel called inside another's
    scope hands the checkpoints its result reads to the caller's scope."""
    stack = _scopes.__dict__.setdefault("stack", [])
    loop = BSPLoop()
    stack.append(loop)
    try:
        yield loop
    except BaseException:
        loop._kept.clear()
        loop._close(None)
        raise
    finally:
        stack.pop()
    loop._close(stack[-1] if stack else None)


@contextmanager
def bsp(edges: DataFrame, slots: int = 1) -> Iterator[BSPLoop]:
    """``scope`` under ``static_loop_plan``, at a width sized from
    ``edges`` times ``slots``, the per-node state slots a round moves (see
    ``_loop_width``): the multi-source sweeps pass their source count,
    whose rounds carry S values per node."""
    with static_loop_plan(edges.sparkSession, sized_by=edges, slots=slots), scope() as loop:
        yield loop


def _checkpoint_rdds(df: DataFrame) -> list:
    """The RDD of every checkpointed (``LogicalRDD``) leaf of ``df``."""
    try:
        leaves = df._jdf.queryExecution().analyzed().collectLeaves().iterator()
        rdds = []
        while leaves.hasNext():
            leaf = leaves.next()
            if leaf.getClass().getSimpleName() == "LogicalRDD":
                rdds.append(leaf.rdd())
        return rdds
    except Exception:  # noqa: BLE001 - plan inspection is best-effort
        return []


def release(df: DataFrame | None) -> None:
    if df is None:
        return
    try:
        plan = df._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":
            plan.rdd().unpersist(False)
            return
    except Exception:  # noqa: BLE001 - releasing is best-effort
        pass
    try:
        df.unpersist()
    except Exception:  # noqa: BLE001
        pass


def release_deep(df: DataFrame | None, keep: tuple[DataFrame, ...] = ()) -> None:
    """Free EVERY checkpointed (``LogicalRDD``) leaf under ``df``'s plan,
    except the checkpoints the ``keep`` frames read.

    For a frame that is a pure derivation over checkpoints — e.g. the
    projection a kernel returns over its final BSP state, abandoned by the
    caller after use — ``release`` no-ops (the root is a ``Project``, not
    the ``LogicalRDD``). This walks the analyzed plan's leaves instead.

    CAUTION: stronger contract than ``release`` — the caller asserts that
    NOTHING else references any checkpoint under this plan. Only use on
    frames whose whole derivation chain is private and fully consumed."""
    if df is None:
        return
    kept = {r.id() for k in keep for r in _checkpoint_rdds(k)}
    for rdd in _checkpoint_rdds(df):
        if rdd.id() in kept:
            continue
        try:
            rdd.unpersist(False)
        except Exception:  # noqa: BLE001 - releasing is best-effort
            pass
