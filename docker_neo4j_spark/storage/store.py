"""Mutable graph store: the write path + snapshot lifecycle.

Reference anchors:
- CREATE / MATCH-CREATE / read-your-writes smoke flow:
  /root/reference/src/test/java/com/neo4j/docker/utils/DatabaseIO.java:42-86
  (``CREATE (arne:dog {name:'Arne'})-[:SNIFFS]->(bosse:dog ...)`` then
  MATCH returns ["Arne"], then Armstrong, then sorted "Armstrong,Arne").
- dump/load snapshot roundtrip:
  /root/reference/src/test/java/com/neo4j/docker/neo4jadmin/TestDumpLoad.java:90-133
  (``neo4j-admin database dump`` → file → ``load`` → same data).
- LOAD CSV via the ``/import`` mount:
  /root/reference/docker-image-src/calver/coredb/docker-entrypoint.sh:502-505.

Spark realization: the store holds *immutable* nodes/rels DataFrames and
every write swaps in a new frame (union / anti-join / conditional
update). Read-your-writes falls out of the swap; there is no in-place
mutation anywhere, so concurrent readers of an old frame stay consistent
(snapshot isolation, the same model the reference's store gives a single
transaction).

Scale notes: writes are unions of small createDataFrame batches onto the
big frame — at 100 TB you'd checkpoint the union chain periodically
(``compact()``) and dump/load is a plain parquet write/read, which is
exactly how a snapshot should move at that size (no driver collect).
"""

from __future__ import annotations
from ..localframe import local_df

import itertools

from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from ..graph import NODE_FIXED_COLS, REL_FIXED_COLS, PropertyGraph

# User-created entities get ids from a dedicated space far above the
# loader's LABEL_BASE/REL_BASE ranges.
WRITE_NODE_BASE = 900_000_000_000_000
WRITE_REL_BASE = 910_000_000_000_000

# A user PROPERTY may legally be named like one of the store's fixed
# entity columns (``{id: row.id}`` is THE docs bulk-import idiom — r13).
# Such properties store under an escaped column name; the read side
# (resolvers, keys()/properties(), entity structs) maps back.
_RESERVED_PROPS = ("id", "labels", "src", "dst", "type")
_ESC = "__p"


def esc_prop(name: str) -> str:
    """Property name → store column name (escapes the fixed-column set)."""
    return f"{name}{_ESC}" if name in _RESERVED_PROPS else name


def unesc_prop(col: str) -> str:
    """Store column name → user-facing property name."""
    if col.endswith(_ESC) and col[: -len(_ESC)] in _RESERVED_PROPS:
        return col[: -len(_ESC)]
    return col


class GraphStore:
    """A mutable property graph with CREATE / MERGE / SET / DELETE /
    dump / load, backed by immutable DataFrame snapshots."""

    def __init__(self, spark: SparkSession, graph: PropertyGraph | None = None):
        self.spark = spark
        # an INTERACTIVE store (born empty, all content session-written)
        # knows its own size from the reserved-id counters — while small,
        # its snapshots broadcast node scans statically (checkpoint-backed
        # frames carry no size stats, so AQE otherwise plans shuffle joins
        # first and converts mid-flight, a whole job cascade per readback)
        self._born_empty = graph is None
        self._next_node_id = WRITE_NODE_BASE
        self._next_rel_id = WRITE_REL_BASE
        if graph is None:
            empty_nodes = local_df(spark, [], "id long, labels array<string>").coalesce(1)
            empty_rels = local_df(spark, [], "id long, src long, dst long, type string").coalesce(1)
            graph = PropertyGraph(nodes=empty_nodes, rels=empty_rels, broadcast_all=True)
        self.graph = graph
        self._node_ids = itertools.count(WRITE_NODE_BASE)
        self._rel_ids = itertools.count(WRITE_REL_BASE)
        from .constraints import ConstraintCatalog
        from .indexes import IndexCatalog

        self.indexes = IndexCatalog()
        self.constraints = ConstraintCatalog()
        self._swap_gen = 0  # auto-compaction cadence counter (r11)
        # name -> {"assigned": DataFrame, "centroids": DataFrame, "options": dict}
        # for VECTOR indexes (the trained IVF inverted file; rebuilt on
        # load rather than serialized — the codebook is derived state)
        self.vector_data: dict[str, dict] = {}

    # ---- helpers -------------------------------------------------------
    _NUMERIC_T = ("tinyint", "smallint", "int", "bigint", "float", "double")
    _INTEGRAL_T = ("tinyint", "smallint", "int", "bigint")

    def _union_missing(self, base: DataFrame, extra: DataFrame) -> DataFrame:
        """Schema-evolving union: new property columns null-pad old rows.

        Type conflicts on a shared property column are resolved EAGERLY
        (r12): numeric×numeric widens both sides to double; anything else
        fails with the engine error shape. Without this, Spark's union
        coercion embeds an ANSI cast in the lineage that detonates at an
        ARBITRARY later read ("value 'x' cannot be cast to BIGINT" —
        a poisoned store, the worst failure mode)."""
        dup = {c for c in extra.columns if extra.columns.count(c) > 1}
        if dup:
            # a user property named `id`/`labels`/`src`/`dst`/`type`
            # collides with the store's fixed entity columns — fail with
            # the engine's error shape, not Spark's COLUMN_ALREADY_EXISTS
            # (r12; every write path unions through here)
            raise ValueError(
                f"property name(s) {sorted(dup)} are reserved by this "
                f"engine (internal entity columns); rename the "
                f"propert{'ies' if len(dup) > 1 else 'y'}"
            )
        base_t, extra_t = dict(base.dtypes), dict(extra.dtypes)
        for c in set(base.columns) & set(extra.columns):
            bt, et = base_t[c], extra_t[c]
            if bt == et or "void" in (bt, et):
                continue
            b_num, e_num = bt in self._NUMERIC_T, et in self._NUMERIC_T
            if b_num and e_num:
                # integer×integer widens WITHIN the family to bigint —
                # a double cast would silently float every stored integer
                # (precision loss above 2^53, Cypher ints become floats);
                # the double cast is reserved for genuine int×float
                # conflicts (r13 — ADVICE r12)
                target = (
                    "bigint"
                    if bt in self._INTEGRAL_T and et in self._INTEGRAL_T
                    else "double"
                )
                base = base.withColumn(c, F.col(c).cast(target))
                extra = extra.withColumn(c, F.col(c).cast(target))
                continue
            raise ValueError(
                f"property `{c}` type conflict: the store holds {bt} but "
                f"the incoming write carries {et} — this engine stores one "
                f"type per property column; rename the property or cast "
                f"the value"
            )
        return base.unionByName(extra, allowMissingColumns=True)

    def reserve_node_ids(self, n: int) -> int:
        """Reserve a contiguous block of n node ids; returns the base."""
        base = next(self._node_ids)
        self._node_ids = itertools.count(base + n)
        self._next_node_id = max(self._next_node_id, base + n)
        return base

    def reserve_rel_ids(self, n: int) -> int:
        base = next(self._rel_ids)
        self._rel_ids = itertools.count(base + n)
        self._next_rel_id = max(self._next_rel_id, base + n)
        return base

    # interactive stores stay broadcast-joinable while the total written
    # entity count is dimension-sized; one threshold for nodes + rels
    BROADCAST_ALL_MAX_ENTITIES = 200_000

    def _is_small_interactive(self) -> bool:
        if not self._born_empty:
            return False
        written = (self._next_node_id - WRITE_NODE_BASE) + (
            self._next_rel_id - WRITE_REL_BASE
        )
        return written < self.BROADCAST_ALL_MAX_ENTITIES

    def append_nodes(self, df: DataFrame) -> None:
        """Append pre-built node rows (id, labels, props) in one union."""
        self._enforce_unique(df)
        self._swap(nodes=self._union_missing(self.graph.nodes, df))

    def _enforce_unique(self, new_nodes: DataFrame) -> None:
        """Distributed uniqueness validation for constrained labels: one
        groupBy-count over (incoming ∪ existing) constrained keys per
        constraint whose label the batch touches. Null keys are exempt
        (Cypher semantics). No constraints → zero extra jobs."""
        for c in self.constraints.constraints.values():
            if getattr(c, "entity", "NODE") != "NODE":
                continue  # relationship constraints validate in append_rels
            prop = c.properties[0]
            if getattr(c, "constraint_type", "UNIQUENESS") == "NODE_PROPERTY_EXISTENCE":
                # `IS NOT NULL` existence constraint (r12): every incoming
                # node with the label must carry the property
                bad = new_nodes.where(
                    F.array_contains(F.col("labels"), c.label)
                    & (
                        F.col(prop).isNull()
                        if prop in new_nodes.columns
                        else F.lit(True)
                    )
                ).take(1)
                if bad:
                    raise ValueError(
                        f"Node(:{c.label}) violates existence constraint "
                        f"{c.name}: `{prop}` must not be null"
                    )
                continue
            if prop not in new_nodes.columns:
                continue
            incoming = new_nodes.where(
                F.array_contains(F.col("labels"), c.label)
                & F.col(prop).isNotNull()
            ).select(prop)
            if incoming.isEmpty():
                continue
            base = self.graph.nodes
            existing = (
                base.where(
                    F.array_contains(F.col("labels"), c.label)
                    & F.col(prop).isNotNull()
                ).select(prop)
                if prop in base.columns
                else None
            )
            pool = incoming if existing is None else incoming.unionByName(existing)
            dup = (
                pool.groupBy(prop)
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .take(1)
            )
            if dup:
                raise ValueError(
                    f"Node already exists with label `{c.label}` and property "
                    f"`{prop}` = {dup[0][prop]!r} (constraint {c.name})"
                )

    def _enforce_unique_post(self, nodes: DataFrame, touched: set[str]) -> None:
        """Write-path uniqueness for property UPDATES (``SET n.k = v``):
        validate the candidate post-update frame before it is swapped in.
        Only constraints whose key property was touched are checked — an
        untouched property cannot create a new collision. One
        groupBy-count + take(1) over the constrained label's non-null
        keys per affected constraint (the reference enforces uniqueness
        on updates exactly as on creates)."""
        for c in self.constraints.constraints.values():
            prop = c.properties[0]
            if prop not in touched or prop not in nodes.columns:
                continue
            dup = (
                nodes.where(
                    F.array_contains(F.col("labels"), c.label)
                    & F.col(prop).isNotNull()
                )
                .groupBy(prop)
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .take(1)
            )
            if dup:
                raise ValueError(
                    f"Node already exists with label `{c.label}` and property "
                    f"`{prop}` = {dup[0][prop]!r} (constraint {c.name})"
                )

    def append_rels(self, df: DataFrame) -> None:
        self._enforce_rel_constraints(df)
        self._swap(rels=self._union_missing(self.graph.rels, df))

    def _enforce_rel_constraints(self, new_rels: DataFrame) -> None:
        """Relationship-constraint validation (r12 — ``FOR ()-[r:T]-()
        REQUIRE r.p IS …``): existence per incoming batch, uniqueness as
        one groupBy-count over (incoming ∪ existing) per-type keys.
        Mirrors the node path; zero extra jobs with no rel constraints."""
        for c in self.constraints.constraints.values():
            if getattr(c, "entity", "NODE") != "RELATIONSHIP":
                continue
            prop = c.properties[0]
            ctype = getattr(c, "constraint_type", "RELATIONSHIP_UNIQUENESS")
            if ctype == "REL_PROPERTY_EXISTENCE":
                bad = new_rels.where(
                    (F.col("type") == c.label)
                    & (
                        F.col(prop).isNull()
                        if prop in new_rels.columns
                        else F.lit(True)
                    )
                ).take(1)
                if bad:
                    raise ValueError(
                        f"Relationship(:{c.label}) violates existence "
                        f"constraint {c.name}: `{prop}` must not be null"
                    )
                continue
            if prop not in new_rels.columns:
                continue
            incoming = new_rels.where(
                (F.col("type") == c.label) & F.col(prop).isNotNull()
            ).select(prop)
            if incoming.isEmpty():
                continue
            base = self.graph.rels
            existing = (
                base.where(
                    (F.col("type") == c.label) & F.col(prop).isNotNull()
                ).select(prop)
                if prop in base.columns
                else None
            )
            pool = incoming if existing is None else incoming.unionByName(existing)
            dup = (
                pool.groupBy(prop)
                .agg(F.count(F.lit(1)).alias("_n"))
                .where(F.col("_n") > 1)
                .take(1)
            )
            if dup:
                raise ValueError(
                    f"Relationship already exists with type `{c.label}` and "
                    f"property `{prop}` = {dup[0][prop]!r} (constraint {c.name})"
                )

    def stage_indexed(self, df: DataFrame) -> tuple[DataFrame, int]:
        """Attach a dense 0..n-1 ``_idx`` column to ``df``; returns
        (frame, n). The id-assignment backbone for every set-based write.

        A frame whose optimized plan is a ``LocalRelation`` (driver-held
        rows, such as an ``UNWIND $rows`` parameter frame) is numbered on
        the driver: collecting it runs no Spark job, and the result is a
        one-partition local frame.

        Any other frame stays DataFrame-only (no ``.rdd`` — zipWithIndex
        would round-trip every row through Python serialization on the
        bulk-ingest path): ``monotonically_increasing_id`` packs
        (partition, row-in-partition) into one long (partition id in the
        upper bits, consecutive record number in the lower 33 — documented
        layout); a localCheckpoint pins partitioning so ids are stable
        across re-evaluation; per-partition counts (one row per partition,
        the same tiny exchange zipWithIndex does JVM-side) become
        cumulative offsets folded into ``_idx`` as a literal ``CASE`` on
        the partition id, so the store's plan gains no join. No global
        sort, no full-data shuffle, no Python hop."""
        plan = df._jdf.queryExecution().optimizedPlan()
        if plan.getClass().getSimpleName() == "LocalRelation":
            rows = [
                {**r.asDict(recursive=True), "_idx": i}
                for i, r in enumerate(df.collect())
            ]
            schema = StructType([*df.schema.fields, StructField("_idx", LongType(), False)])
            return local_df(self.spark, rows, schema).coalesce(1), len(rows)
        # LAZY localCheckpoint: the offsets collect below materializes the
        # checkpoint and computes the per-partition counts in ONE job
        # (eager=True spent a separate job per write statement — r14,
        # match_merge_rel watch item); ids pin at that materialization and
        # every later read hits the checkpointed blocks
        pinned = df.withColumn(
            "_mid", F.monotonically_increasing_id()
        ).localCheckpoint(eager=False)
        pid = F.shiftright("_mid", 33)
        counts = sorted(
            (r["_pid"], r["_cnt"])
            for r in pinned.groupBy(pid.alias("_pid"))
            .agg(F.count(F.lit(1)).alias("_cnt"))
            .collect()
        )
        n, off = 0, None
        for p, cnt in counts:
            off = (F.when if off is None else off.when)(pid == p, F.lit(n))
            n += cnt
        row = F.col("_mid").bitwiseAND(F.lit((1 << 33) - 1))
        idx = row if off is None else off + row
        return pinned.select(*df.columns, idx.alias("_idx")), n

    # every Nth frame swap checkpoints the union chain: without this a
    # long interactive session's plan grows one Union generation per
    # write, so the THOUSANDTH statement re-evaluates a 999-deep chain —
    # the bounded-lineage discipline the BSP loops already follow (r11)
    AUTO_COMPACT_EVERY = 64

    def _swap(self, nodes: DataFrame | None = None, rels: DataFrame | None = None) -> None:
        self.graph = PropertyGraph(
            nodes=self.graph.nodes if nodes is None else nodes,
            rels=self.graph.rels if rels is None else rels,
            broadcast_all=self._is_small_interactive(),
        )
        self._swap_gen += 1
        if self._swap_gen % self.AUTO_COMPACT_EVERY == 0:
            self.compact()

    # ---- CREATE (SURVEY.md §2.B.13) -----------------------------------
    def create_nodes(self, label: str | list[str], rows: list[dict]) -> list[int]:
        """``CREATE (n:Label {props})`` for a batch; returns the new ids.
        ``label`` may be a list for multi-label patterns (``:A:B`` — r12)."""
        from ..cypher.lexer import ExprText

        labels = [label] if isinstance(label, str) else list(label)
        rows = [
            {esc_prop(k): v for k, v in (r or {}).items()} for r in rows
        ]

        for r in rows:
            for k, v in (r or {}).items():
                if isinstance(v, ExprText):
                    raise ValueError(
                        f"property {k!r} references unbound variables: "
                        f"{v.src!r} — a standalone CREATE/MERGE can only "
                        f"use literals and variable-free expressions"
                    )
        ids = [next(self._node_ids) for _ in rows]
        prop_cols = sorted({k for r in rows for k in r})
        data = [
            {"id": i, "labels": labels, **{c: r.get(c) for c in prop_cols}}
            for i, r in zip(ids, rows)
        ]
        # createDataFrame over a driver-side list parallelizes to
        # defaultParallelism (32) partitions; interactive writes are a few
        # rows, so every union generation would otherwise grow the nodes
        # frame by 32 near-empty partitions (the raw material of the r10
        # write-tail CartesianProduct). One small batch = one partition.
        new = local_df(self.spark, data).coalesce(1)
        cols = ["id", "labels", *prop_cols]
        self._enforce_unique(new.select(cols))
        self._swap(nodes=self._union_missing(self.graph.nodes, new.select(cols)))
        return ids

    def create_rels(self, rel_type: str, pairs: list[tuple[int, int]], props: list[dict] | None = None) -> list[int]:
        """``CREATE (a)-[:TYPE {props}]->(b)`` for known endpoint ids."""
        props = [
            {esc_prop(k): v for k, v in (p or {}).items()}
            for p in (props or [{} for _ in pairs])
        ]
        ids = [next(self._rel_ids) for _ in pairs]
        prop_cols = sorted({k for p in props for k in p})
        data = [
            {"id": i, "src": s, "dst": d, "type": rel_type, **{c: p.get(c) for c in prop_cols}}
            for i, (s, d), p in zip(ids, pairs, props)
        ]
        new = local_df(self.spark, data).coalesce(1)
        cols = ["id", "src", "dst", "type", *prop_cols]
        self._swap(rels=self._union_missing(self.graph.rels, new.select(cols)))
        return ids

    # ---- MATCH on the live store --------------------------------------
    def match_nodes(self, label: str | None = None, **props) -> DataFrame:
        df = self.graph.nodes
        if label is not None:
            df = df.where(F.array_contains(F.col("labels"), label))
        for k, v in props.items():
            k = esc_prop(k)
            # a property column that no write has introduced matches nothing
            df = df.where(F.col(k) == v) if k in df.columns else df.where(F.lit(False))
        return df

    def expand(self, src_label: str, rel_type: str, dst_label: str) -> DataFrame:
        """``MATCH (a:L1)-[:T]->(b:L2)`` with alias-prefixed columns."""
        from ..graph import prefix_columns

        a = prefix_columns(self.match_nodes(src_label), "a")
        r = prefix_columns(self.graph.rels.where(F.col("type") == rel_type), "r")
        b = prefix_columns(self.match_nodes(dst_label), "b")
        return a.join(r, F.col("a_id") == F.col("r_src")).join(
            b, F.col("r_dst") == F.col("b_id")
        )

    # ---- MERGE / SET / DELETE -----------------------------------------
    def merge_node(self, label: str, key_props: dict, extra_props: dict | None = None) -> int:
        """``MERGE (n:Label {key props})`` — create iff no match; returns id.

        SINGLETON path: one Spark job (``take(1)``) per call — correct but
        O(jobs) in a driver-side loop. Batch merges belong on the Cypher
        façade: ``UNWIND $rows AS r MERGE …`` is one set-based MERGE over
        the parameter's rows (``cypher/session.py:_merge_from_binding``),
        so this path is for genuinely one-off upserts, not ingest loops."""
        for k, v in key_props.items():
            if v is None:
                # Neo4j refuses null MERGE keys — a null never equals
                # anything, so the pattern could neither match nor create
                # a findable node; merging silently would be a wrong write
                raise ValueError(
                    f"Cannot merge the following node because of null "
                    f"property value for {k!r}"
                )
        existing = self.match_nodes(label, **key_props).select("id").take(1)
        if existing:
            return existing[0]["id"]
        return self.create_nodes(label, [{**key_props, **(extra_props or {})}])[0]

    def set_props(self, label: str, match_props: dict, new_props: dict) -> None:
        """``MATCH (n:Label {match}) SET n.k = v`` — conditional columnwise
        update; untouched rows pass through unchanged."""
        nodes = self.graph.nodes
        base_t = dict(nodes.dtypes)
        cond = F.array_contains(F.col("labels"), label)
        for k, v in match_props.items():
            cond = cond & (F.col(k) == v if k in nodes.columns else F.lit(False))
        for k, v in new_props.items():
            newc = F.lit(v)
            if k in nodes.columns:
                in_tn = self._PY_DTYPES.get(type(v))
                tgt = (
                    self._reconcile_set_type(base_t[k], in_tn, k)
                    if in_tn is not None and v is not None
                    else None
                )
                old = F.col(k)
                if tgt:
                    old, newc = old.cast(tgt), newc.cast(tgt)
            else:
                old = F.lit(None)
            nodes = nodes.withColumn(k, F.when(cond, newc).otherwise(old))
        self._enforce_unique_post(nodes, set(new_props))
        self._swap(nodes=nodes)

    def remove_props(self, label: str, match_props: dict, prop_names: list[str]) -> None:
        """``MATCH (n:Label {match}) REMOVE n.k`` — null out the property
        on matching rows only (the column itself stays for other labels)."""
        self.set_props(label, match_props, {k: None for k in prop_names})

    _PY_DTYPES = {bool: "boolean", int: "bigint", float: "double", str: "string"}

    def _reconcile_set_type(self, existing_tn: str, incoming_tn: str, prop: str):
        """Target dtype BOTH sides of a conditional property update must
        cast to (numeric widening), None to keep as-is — or the engine
        type-conflict error for irreconcilable types. Without this, a
        ``SET n.b = 'x'`` onto a bigint store column embeds an ANSI
        poison cast that detonates at an ARBITRARY later read (the same
        contract _union_missing enforces on the append path — r14)."""
        if existing_tn == incoming_tn or "void" in (existing_tn, incoming_tn):
            return None
        e_num = existing_tn in self._NUMERIC_T
        i_num = incoming_tn in self._NUMERIC_T
        if e_num and i_num:
            return (
                "bigint"
                if existing_tn in self._INTEGRAL_T
                and incoming_tn in self._INTEGRAL_T
                else "double"
            )
        raise ValueError(
            f"property `{unesc_prop(prop)}` type conflict: the store holds "
            f"{existing_tn} but the incoming write carries {incoming_tn} — "
            f"this engine stores one type per property column; rename the "
            f"property or cast the value"
        )

    def _bc_small(self, df: DataFrame) -> DataFrame:
        """Broadcast-hint the driver-known-small side of a store update
        join while the store is interactive-small (r14 — match_merge_rel
        watch item): checkpoint-backed frames carry no size stats, so
        Catalyst otherwise plans sort-merge joins whose whole chain
        replays on every later readback."""
        return F.broadcast(df) if self._is_small_interactive() else df

    # a change frame up to this many rows folds into the updated store
    # frame as literals; a larger one is pinned and joined. Measured on a
    # computed SET of every node of an N-node store (local[2], four SETs):
    # the fold's write took 0.42 s at N = 64 against the pin's 0.60 s,
    # but 0.49 s against 0.36 s at 128 and 2.0 s against 0.34 s at 1,024
    # (its literal map grows with N); its reads stay at one job where the
    # pin adds one per earlier pinned update
    FOLD_MAX_ROWS = 64

    def _changes(self, df: DataFrame):
        """Cut a change frame (``id`` plus new values) off the store's own
        plan. SET, REMOVE and DELETE compute it from a binding over the
        store, so joining it back makes every update reference the store
        twice: the plan doubles per update (2,048 leaf relations after ten
        SETs of one node) and every later read plans all of it. Up to
        ``FOLD_MAX_ROWS`` rows come back in one job (none for a driver-side
        frame), one per id, as a list to fold into the update as literals:
        no join and no new plan leaf. A larger frame, or one holding maps
        or structs, comes back pinned by an eager localCheckpoint (one job,
        one leaf) to join by id."""
        if all(not t.startswith(("map", "struct", "variant")) for _, t in df.dtypes):
            rows = df.limit(self.FOLD_MAX_ROWS + 1).collect()
            if len(rows) <= self.FOLD_MAX_ROWS:
                return list({r["id"]: r for r in rows}.values())
        return df.dropDuplicates(["id"]).localCheckpoint(eager=True)

    def _flagged(
        self, base: DataFrame, changes, key: str = "id", types: dict | None = None
    ) -> DataFrame:
        """``base`` plus ``_hit`` (its ``key`` is one of the ``_changes``
        ids) and ``_new_<p>``, the new value, for each property ``p`` of
        ``types`` (property → Spark type)."""
        types = types or {}
        if not isinstance(changes, list):
            return base.join(self._bc_small(changes.select(
                F.col("id").alias(key),
                *[F.col(p).alias(f"_new_{p}") for p in types],
                F.lit(True).alias("_hit"),
            )), key, "left")
        cols = {"_hit": F.col(key).isin([r["id"] for r in changes])}
        for p, t in types.items():
            pairs = [
                (F.lit(r["id"]).cast("long"), F.lit(r[p]) if t == "void" else F.lit(r[p]).cast(t))
                for r in changes
            ]
            cols[f"_new_{p}"] = F.element_at(
                F.create_map(*[c for pair in pairs for c in pair]), F.col(key)
            )
        return base.withColumns(cols)

    def _kept(self, base: DataFrame, changes, key: str = "id") -> DataFrame:
        """``base`` without the rows whose ``key`` is one of the ``_changes`` ids."""
        if isinstance(changes, list):
            return base.where(~F.col(key).isin([r["id"] for r in changes]))
        return base.join(changes.select(F.col("id").alias(key)), key, "left_anti")

    def set_props_from_frame(
        self, vals: DataFrame, props: list[str], rels: bool = False,
        detached: bool = False,
    ) -> None:
        """Set-based ``SET`` with per-entity COMPUTED values (r9): ``vals``
        carries (id, <prop…>) where each prop column is an arbitrary
        expression evaluated over the match binding; ``rels`` writes the
        relationships frame. One conditional column update per property
        (``_changes`` folds the values in or joins them). A ``detached``
        ``vals`` does not read the store (a pinned procedure result), so
        it joins as it is, with no job at the write. Duplicate-id rows
        collapse to one (Cypher leaves multi-match write order
        unspecified; a distributed engine must pin a deterministic
        winner)."""
        vals = vals.select("id", *[esc_prop(p) for p in props])
        changes = vals.dropDuplicates(["id"]) if detached else self._changes(vals)
        self._set_props(changes, dict(vals.dtypes[1:]), rels)

    def _set_props(self, changes, new_t: dict, rels: bool) -> None:
        """One conditional column update per property of ``new_t``
        (escaped name → Spark type) from ``_changes``-shaped ``changes``."""
        if changes == []:
            return
        props = list(new_t)
        base = self.graph.rels if rels else self.graph.nodes
        base_t = dict(base.dtypes)
        out = self._flagged(base, changes, types=new_t)
        for p in props:
            newc = F.col(f"_new_{p}")
            if p in base.columns:
                tgt = self._reconcile_set_type(base_t[p], new_t[p], p)
                old = F.col(p)
                if tgt:
                    old, newc = old.cast(tgt), newc.cast(tgt)
            else:
                old = F.lit(None)
            out = out.withColumn(p, F.when(F.col("_hit"), newc).otherwise(old))
        out = out.drop("_hit", *[f"_new_{p}" for p in props])
        if rels:
            self._swap(rels=out)
            return
        self._enforce_unique_post(out, set(props))
        self._swap(nodes=out)

    def set_props_by_ids(
        self, ids: DataFrame | list[int], new_props: dict, rels: bool = False
    ) -> None:
        """Set-based ``SET`` of literal values on matched ids (the
        relationships frame when ``rels``): an id frame, or a list of ids
        the driver already holds (no Spark job)."""
        cols = [F.lit(v).alias(esc_prop(k)) for k, v in new_props.items()]
        if isinstance(ids, DataFrame):
            self.set_props_from_frame(ids.select("id", *cols), list(new_props), rels=rels)
            return
        types = dict(self.spark.range(0).select(*cols).dtypes)
        rows = [Row(id=i, **{esc_prop(k): v for k, v in new_props.items()}) for i in ids]
        self._set_props(rows, types, rels)

    def set_labels_by_ids(
        self, ids: DataFrame, add: tuple = (), remove: tuple = ()
    ) -> None:
        """Set-based ``SET n:Label`` / ``REMOVE n:Label`` (r9): matched
        ids drive one conditional labels-array update — union for adds
        (idempotent), except for removes."""
        changes = self._changes(ids.select("id"))
        if changes == []:
            return
        new_labels = F.col("labels")
        if add:
            new_labels = F.array_union(
                new_labels, F.array(*[F.lit(x) for x in add])
            )
        for x in remove:
            new_labels = F.array_remove(new_labels, x)
        nodes = self._flagged(self.graph.nodes, changes).withColumn(
            "labels",
            F.when(F.col("_hit"), new_labels).otherwise(F.col("labels")),
        ).drop("_hit")
        self._swap(nodes=nodes)

    def delete_nodes_by_ids(self, ids: DataFrame, detach: bool = True) -> None:
        """Set-based ``[DETACH] DELETE`` driven by a matched id frame.
        Plain DELETE raises if any doomed node still has relationships
        (Cypher's constraint); DETACH also drops those rels."""
        doomed = self._changes(ids.select("id"))
        if doomed == []:
            return
        rels = self.graph.rels
        if not detach:
            touching = self._flagged(rels, doomed, "src").where("_hit").unionByName(
                self._flagged(rels, doomed, "dst").where("_hit")
            )
            if not touching.isEmpty():
                raise ValueError(
                    "cannot DELETE nodes that still have relationships; use DETACH DELETE"
                )
        else:
            rels = self._kept(self._kept(rels, doomed, "src"), doomed, "dst")
        self._swap(nodes=self._kept(self.graph.nodes, doomed), rels=rels)

    def delete_rels_by_ids(self, ids: DataFrame) -> None:
        """``DELETE r`` for a matched relationship id frame."""
        doomed = self._changes(ids.select("id"))
        if doomed != []:
            self._swap(rels=self._kept(self.graph.rels, doomed))

    def delete_nodes(self, label: str, detach: bool = True, **props) -> None:
        """``MATCH (n:Label {props}) [DETACH] DELETE n``."""
        doomed = self.match_nodes(label, **props).select("id")
        nodes = self.graph.nodes.join(doomed, "id", "left_anti")
        rels = self.graph.rels
        if detach:
            rels = rels.join(
                doomed.withColumnRenamed("id", "src"), "src", "left_anti"
            ).join(doomed.withColumnRenamed("id", "dst"), "dst", "left_anti").select(
                rels.columns
            )
        self._swap(nodes=nodes, rels=rels)

    def compact(self) -> None:
        """Checkpoint the union chain (bounded lineage for long write streams)."""
        self._swap(
            nodes=self.graph.nodes.localCheckpoint(eager=True),
            rels=self.graph.rels.localCheckpoint(eager=True),
        )

    # ---- dump / load (TestDumpLoad.java:90-133) -----------------------
    # Dump format version history. Bump on any layout change; load()
    # accepts dumps with version <= current (older images' data loads in
    # newer ones — the TestUpgrade.java:54-149 contract) and refuses
    # dumps from the future or with a schema stamp that doesn't match
    # their own parquet (truncated/corrupted snapshots fail loudly at
    # load, not as silent wrong answers later).
    DUMP_FORMAT_VERSION = 1

    @staticmethod
    def _schema_hash(nodes: DataFrame, rels: DataFrame) -> str:
        import hashlib

        text = nodes.schema.simpleString() + "|" + rels.schema.simpleString()
        return hashlib.sha256(text.encode()).hexdigest()[:16]

    def dump(self, path: str) -> None:
        """Snapshot the store to ``<path>/{nodes,rels}`` parquet plus a
        ``_meta`` stamp ``{format_version, engine_version, schema_hash}``
        (written through Spark so the dump stays a plain directory on any
        Hadoop-compatible filesystem, never a driver-local file)."""
        from .. import __version__

        nodes_out = self.graph.nodes
        # CREATE INDEX's physical side: cluster rows within partitions on
        # the indexed properties so parquet row-group min/max stats become
        # selective for lookups on them (see storage/indexes.py)
        # unique constraints are index-backed in the reference; their key
        # properties cluster the dump exactly like declared indexes
        ccols = self.indexes.cluster_columns() + [
            c.properties[0] for c in self.constraints.constraints.values()
        ]
        cluster = []
        for c in ccols:
            if c in nodes_out.columns and c not in cluster:
                cluster.append(c)
        if cluster:
            nodes_out = nodes_out.sortWithinPartitions(*cluster)
        nodes_out.write.mode("overwrite").parquet(f"{path}/nodes")
        self.graph.rels.write.mode("overwrite").parquet(f"{path}/rels")
        import json as _json

        meta = local_df(self.spark, 
            [
                (
                    self.DUMP_FORMAT_VERSION,
                    __version__,
                    self._schema_hash(self.graph.nodes, self.graph.rels),
                    _json.dumps(self.indexes.to_json()),
                    _json.dumps(self.constraints.to_json()),
                )
            ],
            "format_version int, engine_version string, schema_hash string,"
            " indexes string, constraints string",
        )
        meta.coalesce(1).write.mode("overwrite").json(f"{path}/_meta")

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "GraphStore":
        """Rehydrate a dumped snapshot; id counters resume above the max.
        Validates the ``_meta`` stamp when present (pre-stamp dumps still
        load — the upgrade path accepts older formats)."""
        from pyspark.errors import AnalysisException

        nodes = spark.read.parquet(f"{path}/nodes")
        rels = spark.read.parquet(f"{path}/rels")
        try:
            meta = spark.read.json(f"{path}/_meta").first()
        except AnalysisException:
            meta = None  # legacy dump without a stamp (pre-versioning)
        except Exception as ex:
            # present but unreadable (checksum/parse failure) → corrupt
            raise ValueError(f"dump at {path} has an unreadable _meta stamp") from ex
        if meta is not None:
            ver = int(meta["format_version"])
            if ver > cls.DUMP_FORMAT_VERSION:
                raise ValueError(
                    f"dump at {path} has format version {ver}, newer than this "
                    f"engine's {cls.DUMP_FORMAT_VERSION} — upgrade the engine to load it"
                )
            expect = cls._schema_hash(nodes, rels)
            if meta["schema_hash"] != expect:
                raise ValueError(
                    f"dump at {path} is corrupt: schema stamp {meta['schema_hash']} "
                    f"does not match its own data ({expect})"
                )
        store = cls(spark, PropertyGraph(nodes=nodes, rels=rels))
        if meta is not None and "indexes" in (meta.asDict() if meta else {}):
            import json as _json

            from .indexes import IndexCatalog

            raw = meta["indexes"]
            if raw:
                store.indexes = IndexCatalog.from_json(_json.loads(raw))
        md = meta.asDict() if meta is not None else {}
        if md.get("constraints"):
            import json as _json

            from .constraints import ConstraintCatalog

            store.constraints = ConstraintCatalog.from_json(
                _json.loads(md["constraints"])
            )
        hi_n = nodes.agg(F.max("id")).first()[0]
        hi_r = rels.agg(F.max("id")).first()[0]
        store._node_ids = itertools.count(max(WRITE_NODE_BASE, (hi_n or 0) + 1))
        store._rel_ids = itertools.count(max(WRITE_REL_BASE, (hi_r or 0) + 1))
        return store


def load_csv(
    spark: SparkSession,
    path: str,
    header: bool = True,
    infer_schema: bool = True,
) -> DataFrame:
    """``LOAD CSV [WITH HEADERS] FROM path`` — the ``/import`` contract
    (docker-entrypoint.sh:502-505) as a plain distributed CSV scan."""
    return (
        spark.read.option("header", header)
        .option("inferSchema", infer_schema)
        .csv(path)
    )

