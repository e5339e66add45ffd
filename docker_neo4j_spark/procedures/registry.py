"""Procedure registry: ``CALL name(args) YIELD cols WHERE … RETURN …``.

Reference anchors:
- ``CALL dbms.listConfig() YIELD name, value WHERE name='…' RETURN value``
  (/root/reference/src/test/java/com/neo4j/docker/utils/DatabaseIO.java:92)
- ``SHOW PROCEDURES`` used to assert plugin procs exist
  (src/test/java/com/neo4j/docker/coredb/plugins/StubPluginHelper.java:113)
- the stub plugin's ``defaultValues`` procedure with typed default args
  (generate-stub-plugin/ExampleNeo4jPlugin.java:52-59).

A procedure is a callable ``(spark, **args) -> DataFrame``; ``call``
applies YIELD projection and an optional WHERE predicate on the result —
all lazily, so a procedure's output composes with the rest of a query
plan like any DataFrame.
"""

from __future__ import annotations
from ..localframe import local_df

import inspect
from collections.abc import Callable
from dataclasses import dataclass
from functools import cached_property, partial

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import gds
from ..operators._mem import release, release_deep, scope


@dataclass
class Procedure:
    name: str
    fn: Callable[..., DataFrame]
    signature: str = ""
    description: str = ""


_REGISTRY: dict[str, Procedure] = {}


class ProcedureError(ValueError):
    """The façade's procedure-call error shape: every failure inside a
    CALL surfaces as this (with the procedure name and an argument
    summary), never as a raw Py4J/TypeError/ZeroDivisionError traceback
    (r12 — the r11 GDS surface leaked all three)."""


# parameter names injected by the engine, never user-suppliable
_CONTEXT_PARAMS = frozenset({"graph", "store", "session"})

# annotations that mark a scalar parameter — a map argument arriving in
# one of these slots is GDS's trailing configuration map, not a value
_SCALAR_ANNOTATIONS = {"str", "int", "float", "bool", str, int, float, bool}


def procedure(name: str, signature: str = "", description: str = ""):
    """Register a procedure under its Cypher-callable name."""

    def deco(fn):
        _REGISTRY[name] = Procedure(name, fn, signature, description)
        return fn

    return deco


def call(
    spark: SparkSession,
    name: str,
    args: dict | None = None,
    yield_cols: list[str] | None = None,
    where=None,
    context: dict | None = None,
) -> DataFrame:
    """``CALL name(args) YIELD cols [WHERE pred]``.

    ``args`` may use positional ``arg0..argN`` keys (how the string façade
    parses a CALL) — they are remapped onto the procedure's declared
    parameter order. ``context`` carries engine objects (graph, store)
    injected only into procedures whose signature asks for them.

    A trailing MAP argument landing in a scalar parameter slot (or past
    the declared parameters) is the canonical GDS configuration map —
    ``CALL gds.wcc.write('g', {writeProperty: 'cc'})`` — and unpacks into
    the procedure's remaining named parameters; unknown keys raise the
    GDS error shape (r12, verdict task 1). Parameters left unbound take
    the procedure function's own defaults.
    """
    if name not in _REGISTRY:
        # Cypher error shape, not a raw Python KeyError (r12)
        raise ValueError(
            f"There is no procedure with the name `{name}` registered for "
            "this database instance"
        )
    proc = _REGISTRY[name]
    sig = inspect.signature(proc.fn)
    params = [p for p in sig.parameters if p != "spark"]
    args = dict(args or {})
    pos = sorted((k for k in args if k.startswith("arg") and k[3:].isdigit()), key=lambda k: int(k[3:]))
    pos_vals = [args.pop(k) for k in pos]
    config_map = None
    if pos_vals and isinstance(pos_vals[-1], dict):
        idx = len(pos_vals) - 1
        target = params[idx] if idx < len(params) else None
        ann = sig.parameters[target].annotation if target is not None else None
        if target is None or target in _CONTEXT_PARAMS or ann in _SCALAR_ANNOTATIONS:
            config_map = pos_vals.pop()
    for i, val in enumerate(pos_vals):
        if i >= len(params):
            raise ProcedureError(
                f"Procedure call provides too many arguments: `{name}` "
                f"expects at most {len(params)} but got {len(pos_vals)}"
            )
        args[params[i]] = val
    if config_map is not None:
        valid = [
            p for p in params
            if p not in _CONTEXT_PARAMS and p not in args
        ]
        for k, v in config_map.items():
            if k not in valid:
                raise ProcedureError(
                    f"Unexpected configuration key: {k} for `{name}` "
                    f"(expected one of: {', '.join(sorted(valid)) or 'none'})"
                )
            args[k] = v
    # the function's defaults, spelled out so the error summary lists
    # every bound value; context parameters stay unbound until injected
    merged = {
        p.name: p.default for p in sig.parameters.values()
        if p.default is not p.empty and p.name not in _CONTEXT_PARAMS
    }
    merged.update(args)
    for ctx_key, ctx_val in (context or {}).items():
        if ctx_key in params and ctx_key not in merged:
            merged[ctx_key] = ctx_val
    try:
        df = proc.fn(spark, **merged)
    except (ProcedureError, KeyError):
        raise
    except ValueError as e:
        # procedures raise engine-shaped ValueErrors on purpose — keep the
        # message, carry the procedure-call type
        raise ProcedureError(str(e)) from e
    except Exception as e:
        # error-hygiene boundary (r12, verdict task 5): no raw
        # Py4J/TypeError/ZeroDivisionError escapes a CALL
        arg_summary = ", ".join(
            f"{k}={v!r}" for k, v in merged.items() if k not in _CONTEXT_PARAMS
        )
        raise ProcedureError(
            f"Failed to invoke procedure `{name}`({arg_summary}): "
            f"{type(e).__name__}: {e}"
        ) from e
    if yield_cols:
        # ``YIELD col AS alias`` renames (Cypher's YIELD alias form — r12)
        import re as _re

        sel = []
        wanted = []
        for c in yield_cols:
            m = _re.fullmatch(r"(\w+)\s+AS\s+(\w+)", c.strip(), _re.IGNORECASE)
            wanted.append(m.group(1) if m else c.strip())
            sel.append(F.col(m.group(1)).alias(m.group(2)) if m else c)
        missing = [w for w in wanted if w not in df.columns]
        if missing:
            # engine error shape, not a raw UNRESOLVED_COLUMN (r12)
            raise ProcedureError(
                f"Unknown YIELD column(s) {missing} for `{name}` "
                f"(procedure yields: {', '.join(df.columns)})"
            )
        df = df.select(*sel)
    if where is not None:
        df = df.where(where)
    return df


def show_procedures(spark: SparkSession) -> DataFrame:
    """``SHOW PROCEDURES`` — name, signature, description."""
    rows = [
        (p.name, p.signature, p.description)
        for p in sorted(_REGISTRY.values(), key=lambda p: p.name)
    ]
    return local_df(spark, rows, "name string, signature string, description string")


# ---- built-ins ----------------------------------------------------------


@procedure(
    "dbms.listConfig",
    signature="dbms.listConfig() :: (name :: STRING, value :: STRING)",
    description="List the currently active configuration settings",
)
def _dbms_list_config(spark: SparkSession) -> DataFrame:
    """Engine defaults + live session overrides, like the reference's
    effective-config view (defaults overlaid by runtime settings)."""
    from ..session import ENGINE_DEFAULT_CONF

    conf = dict(ENGINE_DEFAULT_CONF)
    for k, v in spark.sparkContext.getConf().getAll():
        conf[k] = v
    rows = sorted((k, str(v)) for k, v in conf.items())
    return local_df(spark, rows, "name string, value string")


@procedure(
    "example.defaultValues",
    signature=(
        "example.defaultValues(string = a string :: STRING, integer = 42 :: INTEGER, "
        "aFloat = 3.14 :: FLOAT, aBoolean = true :: BOOLEAN) :: "
        "(string :: STRING, integer :: INTEGER, aFloat :: FLOAT, aBoolean :: BOOLEAN)"
    ),
    description="A procedure that always returns fixed values (stub plugin parity)",
)
def _example_default_values(
    spark: SparkSession, string: str = "a string", integer: int = 42,
    aFloat: float = 3.14, aBoolean: bool = True,
) -> DataFrame:
    """ExampleNeo4jPlugin.defaultValues (ExampleNeo4jPlugin.java:52-59)."""
    return local_df(spark, 
        [(string, integer, aFloat, aBoolean)],
        "string string, integer long, aFloat double, aBoolean boolean",
    )


# ---- scalar plugin functions (RETURN apoc.version() — SURVEY §2.B.9) ----

_FUNCTIONS: dict[str, Callable[..., "F.Column"]] = {}


def scalar_function(name: str):
    """Register a scalar function callable in RETURN position
    (TestConfSettings.java:411 — ``RETURN apoc.version()``)."""

    def deco(fn):
        _FUNCTIONS[name] = fn
        return fn

    return deco


def fn(name: str, *args):
    """Resolve a registered scalar function to a Column expression."""
    if name not in _FUNCTIONS:
        raise KeyError(f"Unknown function '{name}'")
    return _FUNCTIONS[name](*args)


def show_functions(spark: SparkSession) -> DataFrame:
    """SHOW FUNCTIONS — the registered RETURN-position scalar functions
    as (name, category) rows, sorted by name; category is the leading
    namespace (apoc/gds/genai), the shape Neo4j's SHOW FUNCTIONS yields
    for user-defined functions."""
    data = [(n, n.split(".", 1)[0]) for n in sorted(_FUNCTIONS)]
    return local_df(spark, data, "name string, category string")


@scalar_function("apoc.version")
def _apoc_version():
    from .. import __version__

    return F.lit(__version__)


@scalar_function("gds.version")
def _gds_version():
    from .. import __version__

    return F.lit(__version__)


def _litify(v):
    """Façade args arrive as parsed Python literals; Columns pass through."""
    return v if isinstance(v, F.Column) else F.lit(v)


def _register_apoc_functions() -> None:
    """RETURN-position apoc.text.* / apoc.coll.* (functions/apoc.py) —
    the published function surface of the plugin every reference manifest
    bundles (calver/coredb/neo4j-plugins.json:3-8)."""
    from ..functions import apoc as A

    # (impl, n_column_args): the first n args become Column literals
    # (lists become array literals); the rest stay Python scalars
    # (delimiters, counts, lookup strings) as the impl signatures expect.
    mapping: dict[str, tuple] = {
        "apoc.text.levenshteinDistance": (A.text_levenshtein_distance, 2),
        "apoc.text.levenshteinSimilarity": (A.text_levenshtein_similarity, 2),
        "apoc.text.hammingDistance": (A.text_hamming_distance, 2),
        "apoc.text.capitalize": (A.text_capitalize, 1),
        "apoc.text.clean": (A.text_clean, 1),
        "apoc.text.join": (A.text_join, 1),
        "apoc.text.repeat": (A.text_repeat, 1),
        "apoc.text.indexOf": (A.text_index_of, 1),
        "apoc.text.charAt": (A.text_char_at, 1),
        "apoc.text.swapCase": (A.text_swap_case, 1),
        "apoc.text.phonetic": (A.text_phonetic, 1),
        "apoc.coll.sum": (A.coll_sum, 1),
        "apoc.coll.avg": (A.coll_avg, 1),
        "apoc.coll.min": (A.coll_min, 1),
        "apoc.coll.max": (A.coll_max, 1),
        "apoc.coll.toSet": (A.coll_to_set, 1),
        "apoc.coll.sort": (A.coll_sort, 1),
        "apoc.coll.contains": (A.coll_contains, 1),
        "apoc.coll.indexOf": (A.coll_index_of, 1),
        "apoc.coll.flatten": (A.coll_flatten, 1),
        "apoc.coll.union": (A.coll_union, 2),
        "apoc.coll.intersection": (A.coll_intersection, 2),
        "apoc.coll.subtract": (A.coll_subtract, 2),
        # r12 — date/number/uuid/map/format façade registrations (the
        # impls predate this; column-lift counts follow their signatures)
        "apoc.date.format": (A.date_format, 1),
        "apoc.date.parse": (A.date_parse, 1),
        "apoc.number.format": (A.number_format, 1),
        "apoc.create.uuid": (A.create_uuid, 0),
        "apoc.map.merge": (A.map_merge, 2),
        "apoc.text.format": (A.text_format, 0),
        # r12 probe-found registrations — the impls are all builtin
        # Column expressions (functions/apoc.py), zero Python UDFs
        "apoc.coll.zip": (A.coll_zip, 2),
        "apoc.coll.pairs": (A.coll_pairs, 1),
        "apoc.coll.frequencies": (A.coll_frequencies, 1),
        "apoc.coll.duplicates": (A.coll_duplicates, 1),
        "apoc.coll.occurrences": (A.coll_occurrences, 2),
        "apoc.coll.partition": (A.coll_partition, 1),
        "apoc.coll.reverse": (A.coll_reverse, 1),
        "apoc.text.split": (A.text_split, 1),
        "apoc.text.regexGroups": (A.text_regex_groups, 1),
        "apoc.text.urlencode": (A.text_url_encode, 1),
        "apoc.text.urldecode": (A.text_url_decode, 1),
        "apoc.text.base64Encode": (A.text_base64_encode, 1),
        "apoc.text.base64Decode": (A.text_base64_decode, 1),
        "apoc.text.lpad": (A.text_lpad, 1),
        "apoc.text.rpad": (A.text_rpad, 1),
        "apoc.text.snakeCase": (A.text_snake_case, 1),
        "apoc.text.camelCase": (A.text_camel_case, 1),
        "apoc.text.upperCamelCase": (A.text_upper_camel_case, 1),
        "apoc.text.slug": (A.text_slug, 1),
        "apoc.text.sorensenDiceSimilarity": (A.text_sorensen_dice_similarity, 2),
        "apoc.text.fuzzyMatch": (A.text_fuzzy_match, 2),
        "apoc.map.setKey": (A.map_set_key, 1),
        "apoc.map.removeKey": (A.map_remove_key, 1),
        "apoc.map.submap": (A.map_submap, 2),
        "apoc.map.get": (A.map_get, 1),
        "apoc.temporal.format": (A.temporal_format, 1),
        "apoc.number.parseInt": (A.number_parse_int, 1),
        "apoc.number.parseFloat": (A.number_parse_float, 1),
        "apoc.date.add": (A.date_add, 1),
        "apoc.date.convert": (A.date_convert, 1),
        "apoc.date.field": (A.date_field, 1),
        "apoc.date.toISO8601": (A.date_to_iso8601, 1),
        "apoc.date.fromISO8601": (A.date_from_iso8601, 1),
        # r13 — doc-name alias sweep (VERDICT r12 missing #2)
        "apoc.text.distance": (A.text_distance, 2),
        "apoc.text.compareCleaned": (A.text_compare_cleaned, 2),
        "apoc.text.replace": (A.text_replace, 1),
        "apoc.text.regreplace": (A.text_replace, 1),
        "apoc.text.byteCount": (A.text_byte_count, 1),
        "apoc.coll.sumLongs": (A.coll_sum_longs, 1),
        "apoc.coll.removeAll": (A.coll_remove_all, 2),
        "apoc.coll.containsAll": (A.coll_contains_all, 2),
        "apoc.coll.fill": (A.coll_fill, 1),
        "apoc.coll.different": (A.coll_different, 1),
        "apoc.coll.dropDuplicateNeighbors": (A.coll_drop_duplicate_neighbors, 1),
        "apoc.map.clean": (A.map_clean, 3),
    }
    for name, (impl, ncols) in mapping.items():

        def make(impl, ncols):
            def call(*args):
                cooked = []
                for i, a in enumerate(args):
                    if i >= ncols:
                        cooked.append(a)
                    elif isinstance(a, list):
                        cooked.append(F.array(*[_litify(x) for x in a]))
                    elif isinstance(a, dict):
                        kv = []
                        for k, v in a.items():
                            kv += [F.lit(k), _litify(v)]
                        cooked.append(F.create_map(*kv))
                    else:
                        cooked.append(_litify(a))
                return impl(*cooked)

            return call

        _FUNCTIONS[name] = make(impl, ncols)

    from ..functions import gds as G

    gds_mapping = {
        "gds.similarity.cosine": (G.cosine, 2),
        "gds.similarity.euclidean": (G.euclidean, 2),
        "gds.similarity.euclideanDistance": (G.euclidean_distance, 2),
        "gds.similarity.jaccard": (G.jaccard, 2),
        "gds.similarity.overlap": (G.overlap, 2),
        "gds.similarity.pearson": (G.pearson, 2),
    }
    for name, (impl, ncols) in gds_mapping.items():
        _FUNCTIONS[name] = make(impl, ncols)

    # hash fns take a Python LIST of parts (each lifted to a Column, not
    # the list to one array — mixed part types hash fine); fromPairs
    # builds the map from Python pair lists directly (r12)
    def _hash_call(impl):
        def call(parts):
            if not isinstance(parts, list):
                return impl([parts])
            return impl([_litify(p) for p in parts])

        return call

    _FUNCTIONS["apoc.util.md5"] = _hash_call(A.util_md5)
    _FUNCTIONS["apoc.util.sha256"] = _hash_call(A.util_sha256)
    _FUNCTIONS["apoc.util.sha1"] = _hash_call(A.util_sha1)

    def _from_pairs(pairs):
        if isinstance(pairs, F.Column):
            return A.map_from_pair_list(pairs)
        kv = []
        for p in pairs:
            k, v = p[0], (p[1] if len(p) > 1 else None)
            kv += [F.lit(str(k)), _litify(v)]
        return F.create_map(*kv)

    _FUNCTIONS["apoc.map.fromPairs"] = _from_pairs


_register_apoc_functions()


@procedure(
    "apoc.periodic.iterate",
    signature=(
        "apoc.periodic.iterate(cypherIterate :: STRING, cypherAction :: STRING, "
        "config :: MAP) :: (batches :: INTEGER, total :: INTEGER, "
        "committedOperations :: INTEGER, failedBatches :: INTEGER)"
    ),
    description="Batched bulk execution: outer query rows drive the inner statement in batches",
)
def _periodic_iterate(
    spark: SparkSession,
    cypherIterate: str = "",
    cypherAction: str = "",
    config: dict | None = None,
    session=None,
) -> DataFrame:
    """``CALL apoc.periodic.iterate(outer, inner, {batchSize})`` — the
    APOC bulk-update driver. The outer statement's rows stream to the
    driver in ``batchSize`` slices (APOC itself is driver-batched — this
    is the published contract, not a Spark anti-pattern: the DATA path
    stays set-based because the inner statement receives each slice as
    the ``$rows`` parameter, and ``UNWIND $rows AS r …`` starts from those
    rows as one frame, so each batch is one set-based write of O(1) Spark
    jobs, not O(rows)).

    Dialect note (documented divergence): APOC re-binds outer variables
    per row; here the inner statement uses ``UNWIND $rows AS r`` to
    access them — same statements a batch-minded APOC user already
    writes. Returns one row (batches, total, committedOperations,
    failedBatches).
    """
    import itertools
    import re as _re

    if session is None:
        raise ValueError("apoc.periodic.iterate requires a session context")
    batch_size = int((config or {}).get("batchSize", 1000))
    outer = session.run(cypherIterate)
    # Canonical APOC dialect support (r12): the action references the
    # outer row's ENTITY variable directly (`SET p.seen = true`). The
    # batch re-anchors it with one id-IN MATCH per slice — still one
    # set-based write per batch. The `UNWIND $rows` dialect stays the
    # documented general form (scalar columns, multi-variable actions).
    entity_var = None
    if not cypherAction.upper().lstrip().startswith("UNWIND"):
        ent_cols = [
            f.name
            for f in outer.schema.fields
            if f.dataType.typeName() == "struct"
            and "id" in getattr(f.dataType, "fieldNames", lambda: [])()
        ]
        referenced = [
            c
            for c in ent_cols
            if _re.search(rf"(?<![\w.]){_re.escape(c)}(?![\w])", cypherAction)
        ]
        if len(referenced) > 1:
            raise ValueError(
                "apoc.periodic.iterate: the direct-variable action dialect "
                f"supports one outer entity variable, got {referenced}; use "
                "the `UNWIND $rows AS r` form for multi-variable actions"
            )
        if referenced:
            entity_var = referenced[0]
    # Lazy slicing over toLocalIterator: only ONE batch of outer rows is
    # resident on the driver at a time (plus one in-flight Arrow partition
    # buffer), so a 10^8-row outer query costs O(batchSize) driver memory,
    # not O(total). The outer DataFrame itself streams partition-by-
    # partition from the executors.
    it = (r.asDict(recursive=True) for r in outer.toLocalIterator())
    batches = total = committed = failed = 0
    while True:
        chunk = list(itertools.islice(it, batch_size))
        if not chunk:
            break
        batches += 1
        total += len(chunk)
        try:
            if entity_var is not None:
                ids = [r[entity_var]["id"] for r in chunk if r.get(entity_var)]
                session.run(
                    f"MATCH ({entity_var}) WHERE id({entity_var}) IN $__batch_ids "
                    + cypherAction,
                    {"__batch_ids": ids},
                )
            else:
                session.run(cypherAction, {"rows": chunk})
            committed += len(chunk)
        except Exception:
            failed += 1
    return local_df(spark, 
        [(batches, total, committed, failed)],
        "batches long, total long, committedOperations long, failedBatches long",
    )


@procedure(
    "apoc.util.validate",
    signature="apoc.util.validate(predicate :: BOOLEAN, message :: STRING, params :: LIST) :: ()",
    description="Raise an exception with the formatted message when the predicate holds",
)
def _apoc_util_validate(
    spark: SparkSession, predicate=None, message: str = "", params=None
) -> DataFrame:
    """apoc.util.validate — guard procedure: predicate true → error with
    the %-formatted message (APOC's exception contract); false → empty
    success row stream."""
    if bool(predicate):
        try:
            msg = (message or "") % tuple(params or ())
        except (TypeError, ValueError):
            msg = message or ""
        raise ValueError(f"apoc.util.validate: {msg}")
    return local_df(spark, [], "ok string")


@procedure(
    "apoc.util.sleep",
    signature="apoc.util.sleep(duration :: INTEGER) :: ()",
    description="Sleep for the given number of milliseconds (throttling/test hooks)",
)
def _apoc_util_sleep(spark: SparkSession, duration=0) -> DataFrame:
    """apoc.util.sleep — driver-side millisecond sleep, capped at 60 s so
    a bad argument can't wedge a serving thread."""
    import time

    ms = max(0, min(int(duration or 0), 60_000))
    time.sleep(ms / 1000.0)
    return local_df(spark, [], "ok string")


@procedure(
    "apoc.periodic.commit",
    signature=(
        "apoc.periodic.commit(statement :: STRING, params :: MAP) :: "
        "(updates :: INTEGER, executions :: INTEGER, failedCommits :: INTEGER)"
    ),
    description="Repeat a limited write statement until it reports zero updates",
)
def _periodic_commit(
    spark: SparkSession, statement: str = "", params=None, session=None
) -> DataFrame:
    """``CALL apoc.periodic.commit('MATCH … WITH n LIMIT $limit DETACH
    DELETE n RETURN count(*)', {limit: k})`` — the APOC drain loop: run
    the statement until its FIRST returned cell is 0. Each execution is
    set-based (the statement's own LIMIT bounds the batch); the loop only
    moves a single count per round to the driver."""
    if session is None:
        raise ValueError("apoc.periodic.commit requires a session context")
    stmt = (statement or "").strip()
    if not stmt:
        raise ValueError("apoc.periodic.commit: empty statement")
    updates = executions = 0
    while True:
        row = session.run(stmt, dict(params) if params else None).first()
        n = int(row[0]) if row is not None and row[0] is not None else 0
        executions += 1
        updates += n
        if n == 0:
            break
        if executions >= 100_000:
            raise RuntimeError(
                "apoc.periodic.commit: statement never reached zero updates "
                "(is its LIMIT making progress?)"
            )
    return local_df(spark, 
        [(updates, executions, 0)],
        "updates long, executions long, failedCommits long",
    )


# ---- security allowlist (dbms.security.procedures.unrestricted) ---------


def allowed_procedures(conf_value: str | None) -> "Callable[[str], bool]":
    """Allowlist predicate from the comma-separated glob config the plugin
    manifests set (calver/coredb/neo4j-plugins.json:5,12,…): ``apoc.*``
    style patterns; None/empty allows built-ins only (dbms./db. names)."""
    import fnmatch

    globs = [g.strip() for g in (conf_value or "").split(",") if g.strip()]

    def allowed(name: str) -> bool:
        if name.startswith(("dbms.", "db.")):
            return True
        return any(fnmatch.fnmatch(name, g) for g in globs)

    return allowed


@procedure(
    "db.index.vector.queryNodes",
    signature=(
        "db.index.vector.queryNodes(indexName :: STRING, "
        "k :: INTEGER, query :: LIST<FLOAT>) :: "
        "(node :: INTEGER, score :: FLOAT)"
    ),
    description="Query the vector index for the k nearest nodes (genai surface)",
)
def _vector_query_nodes(
    spark: SparkSession, indexName: str = "", k: int = 5, query=None, graph=None,
    store=None,
) -> DataFrame:
    """``CALL db.index.vector.queryNodes('label', k, [..])`` (SURVEY
    §2.B.11, public vector-index surface): cosine top-k over nodes carrying
    an ``embedding`` property. ``indexName`` resolves FIRST against vector
    indexes created by ``CREATE VECTOR INDEX`` — those probe the trained
    IVF inverted file (``nprobe`` nearest cells; exact when nprobe =
    cells) instead of scanning every vector. Otherwise ``indexName`` maps
    to a node label ('' = all embedded nodes) — the single-index-per-label
    analog — scored brute-force. Pure JVM expression scoring (zip_with dot
    product); ordered LIMIT k, so the result is deterministic and
    oracle-comparable."""
    from ..operators.similarity import cosine

    empty = "node bigint, score double"
    if graph is None or not query:
        return local_df(spark, [], empty)
    vdata = getattr(store, "vector_data", {}) if store is not None else {}
    if indexName in vdata:
        from ..operators.similarity import ivf_search

        entry = vdata[indexName]
        qdf = local_df(spark, 
            [(-1, [float(x) for x in query])],
            f"id long, {entry['vec_col']} array<float>",
        )
        hits = ivf_search(
            entry["assigned"],
            entry["centroids"],
            qdf,
            k=int(k),
            nprobe=entry["options"]["nprobe"],
            id_col="id",
            vec_col=entry["vec_col"],
        )
        return (
            hits.select(
                F.col("neighbor_id").alias("node"), F.col("sim").alias("score")
            )
            .orderBy(F.desc("score"), F.asc("node"))
            .limit(int(k))
        )
    nodes = graph.nodes
    if "embedding" not in nodes.columns:
        return local_df(spark, [], empty)
    nodes = nodes.where(F.col("embedding").isNotNull())
    if indexName:
        nodes = nodes.where(F.array_contains(F.col("labels"), indexName))
    qvec = F.array(*[F.lit(float(x)).cast("float") for x in query])
    return (
        nodes.select(
            F.col("id").alias("node"),
            cosine(F.col("embedding"), qvec).alias("score"),
        )
        .orderBy(F.desc("score"), F.asc("node"))
        .limit(int(k))
    )


@procedure(
    "db.index.fulltext.queryNodes",
    signature=(
        "db.index.fulltext.queryNodes(indexName :: STRING, "
        "queryString :: STRING, k :: INTEGER) :: "
        "(node :: NODE, nodeId :: INTEGER, score :: FLOAT, "
        "n_hits :: INTEGER, score_milli :: INTEGER)"
    ),
    description="Query the full-text index: BM25-ranked nodes matching the terms",
)
def _fulltext_query_nodes(
    spark: SparkSession, indexName: str = "", queryString: str = "", k: int = 20,
    graph=None, store=None,
) -> DataFrame:
    """``CALL db.index.fulltext.queryNodes('Label', 'terms…', k)`` — the
    public full-text index surface, scored with exact-integer BM25
    (operators.text.bm25, k1=1.2 b=0.75) over nodes carrying a ``text``
    property. ``indexName`` maps to a node label ('' = every text-bearing
    node), the single-index-per-label analog the vector procedure also
    uses; the query string is whitespace-split into OR terms (the Lucene
    subset that is deterministic and oracle-comparable). The corpus is
    never globally sorted — scoring explodes only the ≤|query| matched
    term set and the ordered LIMIT carries the (score, node) total order.
    """
    from ..operators.text import bm25

    _NODE_T = "struct<id:bigint,labels:array<string>,properties:map<string,string>>"

    def _empty() -> DataFrame:
        df = local_df(
            spark, [], "nodeId bigint, score double, n_hits bigint, score_milli bigint"
        )
        return df.select(F.lit(None).cast(_NODE_T).alias("node"), "*")

    terms = [t for t in (queryString or "").split() if t]
    if graph is None or not terms:
        return _empty()
    nodes = graph.nodes
    # a CREATE FULLTEXT INDEX registration resolves the name to its
    # labels + scored property list (r12); otherwise the legacy
    # label-as-index-name convention over the `text` property applies
    ft = None
    if store is not None and indexName:
        for idx in getattr(store.indexes, "indexes", {}).values():
            if idx.name == indexName and idx.index_type == "FULLTEXT":
                ft = idx
                break
    if ft is not None:
        labels = str(ft.label).split("|")
        cond = None
        for lb in labels:
            c = F.array_contains(F.col("labels"), lb)
            cond = c if cond is None else cond | c
        nodes = nodes.where(cond)
        present = [p for p in ft.properties if p in nodes.columns]
        if not present:
            return _empty()
        text_col = F.concat_ws(
            " ", *[F.coalesce(F.col(p).cast("string"), F.lit("")) for p in present]
        )
        nodes = nodes.withColumn("_ft_text", text_col).where(
            F.trim(F.col("_ft_text")) != ""
        )
        scored = bm25(
            nodes.select(F.col("id").alias("node"), F.col("_ft_text").alias("text")),
            terms,
            key="node",
            top_k=int(k),
        )
    else:
        if "text" not in nodes.columns:
            return _empty()
        nodes = nodes.where(F.col("text").isNotNull())
        if indexName:
            nodes = nodes.where(F.array_contains(F.col("labels"), indexName))
        scored = bm25(
            nodes.select(F.col("id").alias("node"), "text"),
            terms,
            key="node",
            top_k=int(k),
        )
    # the Neo4j contract yields the NODE ENTITY; nodeId keeps the
    # scalar for oracle comparison (r12)
    base = nodes
    prop_cols = sorted(
        c for c in base.columns
        if c not in ("id", "labels") and not c.startswith("_ft")
    )
    pairs = []
    for c in prop_cols:
        pairs += [F.lit(c), F.col(c).cast("string")]
    props = (
        F.map_filter(
            F.map_from_arrays(F.array(*pairs[0::2]), F.array(*pairs[1::2])),
            lambda _k, v: v.isNotNull(),
        )
        if pairs
        else F.create_map().cast("map<string,string>")
    )
    ent = F.struct(
        F.col("id").alias("id"),
        F.sort_array(F.col("labels")).alias("labels"),
        props.alias("properties"),
    )
    enriched = base.select(F.col("id").alias("_fid"), ent.alias("_ent"))
    return (
        scored.join(enriched, scored["node"] == F.col("_fid"))
        .select(
            F.col("_ent").alias("node"),
            scored["node"].alias("nodeId"),
            (F.col("score_milli").cast("double") / F.lit(1000.0)).alias("score"),
            "n_hits",
            "score_milli",
        )
        .orderBy(F.col("score_milli").desc(), F.col("nodeId").asc())
    )


@procedure(
    "apoc.path.expand",
    signature=(
        "apoc.path.expand(start :: STRING, relationshipFilter :: STRING, "
        "labelFilter :: STRING, minLevel :: INTEGER, maxLevel :: INTEGER) :: "
        "(node :: INTEGER, level :: INTEGER)"
    ),
    description="Expand from the start label along filtered relationship types within level bounds",
)
def _apoc_path_expand(
    spark: SparkSession, start: str = "", relationshipFilter: str = "",
    labelFilter: str = "", minLevel: int = 1, maxLevel: int = 3, graph=None,
) -> DataFrame:
    """APOC path-expander subset (apoc.path.expand, the plugin's traversal
    procedure): ``start`` names the start-node label set;
    ``relationshipFilter`` is the APOC ``'T1>|T2>'`` outgoing-type syntax
    (incoming ``<T`` is rejected fail-loud — same one-direction subset the
    pattern compiler serves); ``labelFilter`` supports the ``'>L'``
    end-label terminator or '' for all. Levels are BFS shortest hop
    counts (APOC's NODE_GLOBAL uniqueness default), yielded for
    minLevel ≤ level ≤ maxLevel — the frontier BSP from operators.gds,
    one typed-pruned edge frame, no path materialization."""
    from ..operators.gds import bfs

    empty = "node bigint, level bigint"
    if graph is None or not start:
        return local_df(spark, [], empty)
    types = []
    for part in (relationshipFilter or "").split("|"):
        part = part.strip()
        if not part:
            continue
        if part.startswith("<"):
            raise ValueError(
                "apoc.path.expand: incoming '<T' filters are unsupported "
                "(outgoing 'T>' subset only)"
            )
        types.append(part.rstrip(">"))
    edges = graph.rels
    if types:
        edges = edges.where(F.col("type").isin(types))
    # `start` is a label string OR a node / node id (the canonical
    # ``MATCH (a) CALL apoc.path.expand(a, …)`` shape — r12)
    if not isinstance(start, str):
        sources = local_df(spark, [(_node_arg(start, "start"),)], "id long")
    else:
        sources = graph.nodes.where(
            F.array_contains(F.col("labels"), start)
        ).select("id")
    reached = bfs(edges.select("src", "dst"), sources, max_depth=int(maxLevel))
    out = reached.where(F.col("dist") >= int(minLevel)).select(
        F.col("id").alias("node"), F.col("dist").cast("long").alias("level")
    )
    if labelFilter.startswith(">") and labelFilter[1:]:
        ends = graph.nodes.where(
            F.array_contains(F.col("labels"), labelFilter[1:])
        ).select(F.col("id").alias("node"))
        out = out.join(ends, "node", "left_semi")
    return out


@procedure(
    "apoc.path.subgraphNodes",
    signature=(
        "apoc.path.subgraphNodes(start :: STRING, config :: MAP) :: "
        "(node :: INTEGER)"
    ),
    description=(
        "All nodes reachable from the start within maxLevel hops along "
        "filtered relationship types (NODE_GLOBAL uniqueness)"
    ),
)
def _apoc_path_subgraph_nodes(
    spark: SparkSession, start=None, config: dict = None, graph=None
) -> DataFrame:
    """apoc.path.subgraphNodes — the reachability subset of the
    path-expander config surface (r12): ``{relationshipFilter,
    labelFilter, maxLevel}`` keys honored, same outgoing-'T>' dialect as
    apoc.path.expand; the start node itself is included (level 0, the
    APOC contract). One BFS over the typed-pruned edge frame."""
    cfg = dict(config or {})
    unknown = set(cfg) - {"relationshipFilter", "labelFilter", "maxLevel", "minLevel"}
    if unknown:
        raise ValueError(
            f"apoc.path.subgraphNodes: unsupported config key(s) {sorted(unknown)}"
        )
    out = _apoc_path_expand(
        spark,
        start=start,
        relationshipFilter=str(cfg.get("relationshipFilter", "") or ""),
        labelFilter=str(cfg.get("labelFilter", "") or ""),
        minLevel=int(cfg.get("minLevel", 0)),
        maxLevel=int(cfg.get("maxLevel", 5)),
        graph=graph,
    )
    return out.select("node")


@procedure(
    "apoc.path.spanningTree",
    signature=(
        "apoc.path.spanningTree(start :: STRING, config :: MAP) :: "
        "(node :: INTEGER, level :: INTEGER)"
    ),
    description=(
        "BFS spanning reach from the start: each reachable node once, at "
        "its minimum level"
    ),
)
def _apoc_path_spanning_tree(
    spark: SparkSession, start=None, config: dict = None, graph=None
) -> DataFrame:
    """apoc.path.spanningTree — identical reach set to subgraphNodes with
    the per-node minimum level kept (our BFS already yields exactly one
    row per node at its shortest depth — NODE_GLOBAL semantics)."""
    cfg = dict(config or {})
    unknown = set(cfg) - {"relationshipFilter", "labelFilter", "maxLevel", "minLevel"}
    if unknown:
        raise ValueError(
            f"apoc.path.spanningTree: unsupported config key(s) {sorted(unknown)}"
        )
    return _apoc_path_expand(
        spark,
        start=start,
        relationshipFilter=str(cfg.get("relationshipFilter", "") or ""),
        labelFilter=str(cfg.get("labelFilter", "") or ""),
        minLevel=int(cfg.get("minLevel", 0)),
        maxLevel=int(cfg.get("maxLevel", 5)),
        graph=graph,
    )


@scalar_function("genai.vector.encode")
def _genai_vector_encode(text=None, dim: int = 32):
    """``genai.vector.encode(text)`` → array<float> (the genai plugin's
    encode surface, calver/coredb/neo4j-plugins.json:31-36); Arrow-batched
    deterministic encoder from operators.embed."""
    from ..operators.embed import embed_text

    col = text if isinstance(text, F.Column) else F.lit(text)
    return embed_text(int(dim))(col)


@procedure(
    "apoc.export.csv.all",
    signature="apoc.export.csv.all(file :: STRING) :: (file :: STRING, nodes :: INTEGER, relationships :: INTEGER)",
    description="Export the whole graph to CSV (apoc export surface)",
)
def _apoc_export_csv_all(spark: SparkSession, file: str = "", graph=None) -> DataFrame:
    """``CALL apoc.export.csv.all('/path')`` — the apoc plugin's export
    surface (plugin manifest calver/coredb/neo4j-plugins.json) over the
    engine's distributed CSV sink (one file per partition, no driver
    funnel)."""
    schema = "file string, nodes bigint, relationships bigint"
    if graph is None or not file:
        return local_df(spark, [], schema)
    from ..sources.textdata import export_graph_csv

    export_graph_csv(graph, file)
    return local_df(spark, 
        [(file, graph.nodes.count(), graph.rels.count())], schema
    )


@procedure(
    "db.labels",
    signature="db.labels() :: (label :: STRING)",
    description="List all labels in the graph",
)
def _db_labels(spark: SparkSession, graph=None) -> DataFrame:
    if graph is None:
        return local_df(spark, [], "label string")
    return (
        graph.nodes.select(F.explode("labels").alias("label")).distinct().orderBy("label")
    )


@procedure(
    "db.schema.visualization",
    signature=(
        "db.schema.visualization() :: "
        "(srcLabel :: STRING, relType :: STRING, dstLabel :: STRING, n :: INTEGER)"
    ),
    description="Schema graph: distinct (source label, rel type, target label) triples with counts",
)
def _db_schema_visualization(spark: SparkSession, graph=None) -> DataFrame:
    """The reference's schema-introspection procedure, set-based: two
    label joins over the rel frame + one groupBy — never a sampling
    pass. Multi-label nodes contribute one triple per label (the schema
    graph's meta-node fan-out)."""
    if graph is None:
        return local_df(spark, 
            [], "srcLabel string, relType string, dstLabel string, n long"
        )
    sl = graph.nodes.select(
        F.col("id").alias("_sid"), F.explode("labels").alias("srcLabel")
    )
    dl = graph.nodes.select(
        F.col("id").alias("_did"), F.explode("labels").alias("dstLabel")
    )
    return (
        graph.rels.select("src", "dst", F.col("type").alias("relType"))
        .join(sl, F.col("src") == F.col("_sid"))
        .join(dl, F.col("dst") == F.col("_did"))
        .groupBy("srcLabel", "relType", "dstLabel")
        .agg(F.count("*").cast("long").alias("n"))
    )


# ---- gds.graph catalog: named projections (project → list → drop) ------
# Projections are CHECKPOINTED filtered views keyed per SparkSession — the
# GDS workflow's in-memory graph catalog, Spark-style: a projection is a
# label/type-filtered plan stored as an eager localCheckpoint
# (``_store_projection``), so algorithms that consume it scan
# memory-resident rows and plan against one leaf instead of the store's
# whole derivation (per-type parquet unions, endpoint semi-joins); mutate
# replaces the node frame and drop frees the blocks. Nothing is ever
# collected to the driver.
_GRAPH_CATALOG: dict[int, dict[str, tuple]] = {}


def _as_filter_list(v, what: str) -> list | None:
    """Normalize a GDS label/type filter: ``'Person'`` → ``['Person']``,
    ``'*'`` (alone or in a list) → no filter, a list passes through, a
    map form (``{Person: {}}``) contributes its keys. Non-string
    elements are rejected loud."""
    if v is None:
        return None
    if isinstance(v, str):
        return None if v == "*" else [v]
    vals = list(v)  # dict → its keys (the GDS projection-map form)
    if any(not isinstance(x, str) for x in vals):
        raise ValueError(
            f"{what} must be a string or a list of strings, got {v!r}"
        )
    return None if "*" in vals else vals


_ORIENTATIONS = ("NATURAL", "REVERSE", "UNDIRECTED")


def _rel_projection_spec(relTypes) -> tuple[list | None, dict]:
    """GDS relationship-projection forms → (type filter, {type: orientation}).

    Accepts ``'KNOWS'`` / ``['KNOWS', …]`` / ``'*'`` and the canonical
    map form ``{KNOWS: {orientation: 'UNDIRECTED'}}`` (r12); unknown
    projection keys and orientations are rejected loud."""
    if not isinstance(relTypes, dict):
        return _as_filter_list(relTypes, "relationshipTypes"), {}
    orient: dict[str, str] = {}
    for t, cfg in relTypes.items():
        o, t_actual = "NATURAL", t
        if isinstance(cfg, dict):
            unknown = set(cfg) - {"orientation", "type", "properties", "aggregation"}
            if unknown:
                raise ValueError(
                    f"Unexpected relationship projection key(s): {sorted(unknown)}"
                )
            o = str(cfg.get("orientation", "NATURAL")).upper()
            t_actual = cfg.get("type", t)
        if o not in _ORIENTATIONS:
            raise ValueError(
                f"Orientation must be one of {_ORIENTATIONS}, got {o!r}"
            )
        orient[t_actual] = o
    types = list(orient)
    return (None if "*" in types else types), orient


def _apply_orientation(rels: DataFrame, orient: dict) -> DataFrame:
    """Bake per-type orientation into the projected rels frame: REVERSE
    swaps endpoints, UNDIRECTED stores both directions (GDS counts the
    doubled relationships). Map-only — no shuffle."""
    if not orient or all(o == "NATURAL" for o in orient.values()):
        return rels

    def _swapped(df: DataFrame) -> DataFrame:
        return df.select(
            *[
                F.col("dst").alias("src") if c == "src"
                else F.col("src").alias("dst") if c == "dst"
                else F.col(c)
                for c in df.columns
            ]
        )

    star = orient.get("*")
    if star is not None:
        if star == "REVERSE":
            return _swapped(rels)
        if star == "UNDIRECTED":
            return rels.unionByName(_swapped(rels))
        return rels
    rev = [t for t, o in orient.items() if o == "REVERSE"]
    und = [t for t, o in orient.items() if o == "UNDIRECTED"]
    out = rels.where(~F.col("type").isin(*(rev + und))) if (rev + und) else rels
    if rev:
        out = out.unionByName(_swapped(rels.where(F.col("type").isin(*rev))))
    if und:
        both = rels.where(F.col("type").isin(*und))
        out = out.unionByName(both).unionByName(_swapped(both))
    return out


def _graphs_for(spark: SparkSession) -> dict[str, tuple]:
    return _GRAPH_CATALOG.setdefault(id(spark), {})


def _store_projection(
    spark: SparkSession,
    name: str,
    nodes: DataFrame,
    rels: DataFrame | None = None,
    consumed: DataFrame | None = None,
) -> tuple[int, int]:
    """Store ``name``'s (nodes, rels) as eager localCheckpoints and free
    what the entry replaces; returns (nodeCount, relationshipCount).

    ``rels=None`` keeps the entry's relationship frame and counts (mutate
    replaces only the nodes). Once the new frames have materialized, the
    replaced frames and every checkpoint ``consumed`` reads (a kernel
    result folded into the new nodes) are freed — except the entry's own
    live frames, which a kernel result may read too."""
    cat = _graphs_for(spark)
    old = cat.get(name)
    nodes = nodes.localCheckpoint(eager=True)
    if rels is None:
        _, rels, nc, rc = old
    else:
        rels = rels.localCheckpoint(eager=True)
        nc, rc = nodes.count(), rels.count()
    cat[name] = (nodes, rels, nc, rc)
    for df in (*(old[:2] if old else ()), consumed):
        release_deep(df, keep=(nodes, rels))
    return nc, rc


@procedure(
    "gds.graph.project",
    signature=(
        "gds.graph.project(graphName :: STRING, nodeLabels :: LIST, "
        "relTypes :: LIST) :: (graphName :: STRING, nodeCount :: INTEGER, "
        "relationshipCount :: INTEGER)"
    ),
    description="Project a named label/type-filtered graph into the in-memory catalog",
)
def _gds_graph_project(
    spark: SparkSession, graphName: str = "", nodeLabels=None, relTypes=None, graph=None
) -> DataFrame:
    if graph is None:
        raise ValueError("gds.graph.project requires a graph context")
    cat = _graphs_for(spark)
    if graphName in cat:
        raise ValueError(f"A graph with name '{graphName}' already exists")
    # GDS accepts a single string label/type, the '*' wildcard, and the
    # map projection form with per-type orientation (r12 — a bare string
    # used to iterate PER-CHARACTER and silently project an empty graph)
    nodeLabels = _as_filter_list(nodeLabels, "nodeLabels")
    relTypes, orient = _rel_projection_spec(relTypes)
    nodes = graph.nodes
    if nodeLabels:
        cond = None
        for lb in nodeLabels:
            c = F.array_contains(F.col("labels"), lb)
            cond = c if cond is None else cond | c
        nodes = nodes.where(cond)
    rels = graph.rels
    if relTypes:
        rels = rels.where(F.col("type").isin(*relTypes))
    rels = _apply_orientation(rels, orient)
    # endpoints must survive the node filter (GDS projection semantics)
    ids = nodes.select(F.col("id").alias("_nid"))
    rels = (
        rels.join(ids, rels["src"] == ids["_nid"], "left_semi")
        .join(ids.withColumnRenamed("_nid", "_nid2"), rels["dst"] == F.col("_nid2"), "left_semi")
    )
    nc, rc = _store_projection(spark, graphName, nodes, rels)
    return local_df(spark, 
        [(graphName, nc, rc)],
        "graphName string, nodeCount long, relationshipCount long",
    )


@procedure(
    "gds.graph.project.cypher",
    signature=(
        "gds.graph.project.cypher(graphName :: STRING, nodeQuery :: STRING, "
        "relationshipQuery :: STRING) :: (graphName :: STRING, "
        "nodeCount :: INTEGER, relationshipCount :: INTEGER)"
    ),
    description=(
        "Project a named graph from Cypher queries (legacy GDS cypher "
        "projection: nodeQuery yields `id`, relationshipQuery yields "
        "`source`/`target` plus optional property columns)"
    ),
)
def _gds_graph_project_cypher(
    spark: SparkSession, graphName: str = "", nodeQuery: str = "",
    relationshipQuery: str = "", session=None,
) -> DataFrame:
    """The pre-GDS-2.x projection shape every older tutorial copies:
    both queries run through the full Cypher façade (distributed — the
    projection is two lazy DataFrames, never a driver materialization);
    extra relationship columns (weight/cost) carry into the projection
    as properties usable via ``relationshipWeightProperty``."""
    if session is None:
        raise ValueError("gds.graph.project.cypher requires a session context")
    cat = _graphs_for(spark)
    if graphName in cat:
        raise ValueError(f"A graph with name '{graphName}' already exists")
    nd = session.run(nodeQuery)
    if "id" not in nd.columns:
        raise ValueError(
            f"nodeQuery must yield an `id` column, got {nd.columns}"
        )
    rd = session.run(relationshipQuery)
    missing = [c for c in ("source", "target") if c not in rd.columns]
    if missing:
        raise ValueError(
            f"relationshipQuery must yield `source` and `target` columns, "
            f"got {rd.columns}"
        )
    nodes = nd.select(F.col("id").cast("long").alias("id"))
    extras = [c for c in rd.columns if c not in ("source", "target")]
    rels = rd.select(
        F.col("source").cast("long").alias("src"),
        F.col("target").cast("long").alias("dst"),
        *[F.col(c) for c in extras],
    )
    nc, rc = _store_projection(spark, graphName, nodes, rels)
    return local_df(
        spark,
        [(graphName, nc, rc)],
        "graphName string, nodeCount long, relationshipCount long",
    )


@procedure(
    "gds.graph.list",
    signature=(
        "gds.graph.list(graphName :: STRING) :: (graphName :: STRING, "
        "nodeCount :: INTEGER, relationshipCount :: INTEGER)"
    ),
    description="List graphs in the in-memory catalog (optionally one by name)",
)
def _gds_graph_list(spark: SparkSession, graphName: str = None) -> DataFrame:
    rows = sorted(
        (name, nc, rc)
        for name, (_, _, nc, rc) in _graphs_for(spark).items()
        if graphName is None or name == graphName
    )
    return local_df(spark, 
        rows, "graphName string, nodeCount long, relationshipCount long"
    )


@procedure(
    "gds.graph.drop",
    signature="gds.graph.drop(graphName :: STRING) :: (graphName :: STRING)",
    description="Drop a graph from the in-memory catalog",
)
def _gds_graph_drop(spark: SparkSession, graphName: str = "") -> DataFrame:
    cat = _graphs_for(spark)
    if graphName not in cat:
        raise ValueError(f"Graph with name '{graphName}' does not exist")
    nodes, rels, _, _ = cat.pop(graphName)
    release(nodes)
    release(rels)
    return local_df(spark, [(graphName,)], "graphName string")


def _catalog_entry(spark: SparkSession, graph_name: str) -> tuple:
    """(nodes, rels, nodeCount, relationshipCount) of a named catalog
    projection, or the GDS error shape when it doesn't exist."""
    cat = _graphs_for(spark)
    if graph_name not in cat:
        raise ValueError(
            f"Graph with name '{graph_name}' does not exist in the catalog"
        )
    return cat[graph_name]


def _node_arg(v, what: str) -> int:
    """A GDS node parameter: an int id, or anything id-shaped a façade
    layer resolved a bound node variable to (a dict/Row carrying ``id``).
    Everything else fails with the GDS error shape."""
    if isinstance(v, bool):
        raise ValueError(f"{what} must be a node or a node id, got {v!r}")
    if isinstance(v, int):
        return v
    if isinstance(v, dict) and isinstance(v.get("id"), int):
        return v["id"]
    got = getattr(v, "id", None)
    if isinstance(got, int):
        return got
    raise ValueError(f"{what} must be a node or a node id, got {v!r}")


def _projected_graph(
    spark: SparkSession, graph_name: str, weight_prop: str | None = None
):
    """(nodes(id), edges(src,dst[,weight])) of a named catalog projection,
    or the GDS error shape when it doesn't exist — or is empty (r12:
    algorithms over a 0-node projection used to surface bare
    ZeroDivisionErrors). ``weight_prop`` (the canonical
    ``relationshipWeightProperty`` config) adds a double ``weight``
    column from the projected relationship property (missing values → 1.0,
    GDS's defaultValue convention; an unknown property fails loud)."""
    nodes, rels, nc, _ = _catalog_entry(spark, graph_name)
    if nc == 0:
        raise ValueError(
            f"Graph '{graph_name}' is empty (0 nodes) — nothing to compute on"
        )
    if weight_prop is None:
        return nodes.select("id"), rels.select("src", "dst")
    weight_prop = str(weight_prop)
    if weight_prop not in rels.columns:
        raise ValueError(
            f"Relationship weight property '{weight_prop}' is not present "
            f"in graph '{graph_name}' (project it with "
            f"{{TYPE: {{properties: '{weight_prop}'}}}})"
        )
    return nodes.select("id"), rels.select(
        "src",
        "dst",
        F.coalesce(F.col(weight_prop).cast("double"), F.lit(1.0)).alias(
            "weight"
        ),
    )


# ---- GDS node algorithms: one declaration, generated execution modes -------
# Each node algorithm is declared once, by ``node_algorithm`` over its run
# function. ``run(nodes, edges, **config)`` holds the kernel call from
# operators/gds.py plus the rename/coalesce the algorithm needs, and
# returns an (id, <column>) frame. Run's own keyword parameters (name,
# default, annotation) are the algorithm's configuration in every mode.
# The modes are GDS's execution modes (SURVEY §2.B.10): stream yields
# (nodeId, <column>); write, stats and mutate yield the summary columns
# they declare, in order. The CALL layer is argument plumbing only, never
# a second algorithm.

_CYPHER_TYPES = {"str": "STRING", "int": "INTEGER", "float": "FLOAT"}


@dataclass(frozen=True)
class _NodeAlgorithm:
    name: str  # registered as gds.<name>.<mode>
    column: str  # run's value column: stream's second YIELD column
    ctype: str  # its Cypher type
    prop: str | None  # the property write and mutate default to
    run: Callable[..., DataFrame]
    config: tuple[inspect.Parameter, ...]  # run's keyword parameters


class _ModeCall:
    """One mode call: the projection, the bound configuration, and the
    algorithm frame, built on first use (``gds.pageRank.stats`` and
    ``gds.triangleCount.stats`` never run the per-node kernel)."""

    def __init__(self, spark, algo, graph_name, prop, store, config):
        self.nodes, self.edges = _projected_graph(
            spark, graph_name, config.get("relationshipWeightProperty")
        )
        self.spark, self.algo, self.graph_name = spark, algo, graph_name
        self.prop, self.store, self.config = prop, store, config

    @cached_property
    def out(self) -> DataFrame:
        return self.algo.run(self.nodes, self.edges, **self.config)

    @property
    def ran(self) -> bool:
        return "out" in vars(self)

    def prop_frame(self) -> DataFrame:
        return self.out.select("id", F.col(self.algo.column).alias(self.prop))

    def summary(self, yields) -> DataFrame:
        # one Spark action per column, in YIELD order
        row = tuple(_SUMMARIES[c](self) for c in yields)
        return local_df(self.spark, [row], ", ".join(f"{c} long" for c in yields))


def _distinct_values(c: _ModeCall) -> int:
    return c.out.select(c.algo.column).distinct().count()


def _global_triangles(c: _ModeCall) -> int:
    return int(gds.triangle_count(c.edges).collect()[0][0])


# The summary YIELD columns of write, stats and mutate, all INTEGER.
# nodeCount counts the algorithm frame when the mode has built it, else
# the projection, so a stats mode that needs no per-node frame runs none.
_SUMMARIES = {
    "nodePropertiesWritten": lambda c: c.out.count(),
    "nodeCount": lambda c: (c.out if c.ran else c.nodes).count(),
    "componentCount": _distinct_values,
    "communityCount": _distinct_values,
    "ranIterations": lambda c: int(c.config["maxIterations"]),
    "globalTriangleCount": _global_triangles,
}


def _stream(c: _ModeCall, yields) -> DataFrame:
    return c.out.select(F.col("id").alias("nodeId"), c.algo.column)


def _write(c: _ModeCall, yields) -> DataFrame:
    """The values land on the live store via one set-based conditional
    update (set_props_from_frame), readable by the next MATCH. The
    store's node frame reads the kernel result until compaction, so the
    result stays pinned, and it joins the store as it is."""
    c.store.set_props_from_frame(c.prop_frame(), [c.prop], detached=True)
    return c.summary(yields)


def _stats(c: _ModeCall, yields) -> DataFrame:
    row = c.summary(yields)
    if c.ran:  # nothing reads the kernel result once the row is built
        release_deep(c.out, keep=_catalog_entry(c.spark, c.graph_name)[:2])
    return row


def _mutate(c: _ModeCall, yields) -> DataFrame:
    """Attach (id, <prop>) to the projection's node frame — GDS mutate
    semantics: visible to later algorithms on the SAME projection, never
    written to the database. The new node frame replaces the old one in
    the catalog, which frees the old frame and the kernel result, so the
    row is computed first."""
    row = c.summary(yields)
    nodes = _catalog_entry(c.spark, c.graph_name)[0]
    if c.prop in nodes.columns:
        raise ValueError(
            f"Node property '{c.prop}' already exists in graph '{c.graph_name}'"
        )
    prop_frame = c.prop_frame()
    _store_projection(
        c.spark, c.graph_name, nodes.join(prop_frame, "id", "left"), consumed=prop_frame
    )
    return row


_MODES = {"stream": _stream, "write": _write, "stats": _stats, "mutate": _mutate}


def node_algorithm(name: str, column: tuple[str, str], prop: str | None = None, **modes):
    """Declare ``run`` as GDS node algorithm ``name`` and register one
    ``gds.<name>.<mode>`` procedure per keyword: ``stream=description``,
    or ``write|stats|mutate=(description, *summary YIELD columns)``.
    ``column`` is (name, Cypher type) of run's value column; ``prop`` is
    the property write and mutate default to."""

    def deco(run):
        config = tuple(inspect.signature(run).parameters.values())[2:]
        algo = _NodeAlgorithm(name, *column, prop, run, config)
        for mode, decl in modes.items():
            description, *yields = (decl,) if mode == "stream" else decl
            _register_mode(algo, mode, description, yields)
        return run

    return deco


def _register_mode(algo, mode, description, yields) -> None:
    """Register gds.<algo>.<mode>. Its parameters bind positionally as
    graphName, then writeProperty/mutateProperty, then the configuration;
    write also takes the engine-injected ``store``. The SHOW PROCEDURES
    signature is rendered from the same parameters and YIELD columns."""
    name = f"gds.{algo.name}.{mode}"
    arg = partial(inspect.Parameter, kind=inspect.Parameter.POSITIONAL_OR_KEYWORD)
    params = [arg("graphName", default="", annotation="str")]
    if mode in ("write", "mutate"):
        params.append(arg(f"{mode}Property", default=algo.prop, annotation="str"))
    params += algo.config
    context = [arg("store", default=None)] if mode == "write" else []
    sig = inspect.Signature([arg("spark"), *params, *context])

    def proc(spark, **kw):
        bound = sig.bind(spark, **kw)
        bound.apply_defaults()
        config = dict(bound.arguments)
        config.pop("spark")
        graph_name, store = config.pop("graphName"), config.pop("store", None)
        prop = config.pop(f"{mode}Property", None)
        if mode == "write" and store is None:
            raise ValueError(f"{name} requires a store context")
        c = _ModeCall(spark, algo, graph_name, prop, store, config)
        return _MODES[mode](c, yields)

    proc.__signature__ = sig
    if mode == "stream":
        outs = [("nodeId", "INTEGER"), (algo.column, algo.ctype)]
    else:
        outs = [(c, "INTEGER") for c in yields]
    ins = ", ".join(f"{p.name} :: {_CYPHER_TYPES[p.annotation]}" for p in params)
    outs = ", ".join(f"{c} :: {t}" for c, t in outs)
    _REGISTRY[name] = Procedure(name, proc, f"{name}({ins}) :: ({outs})", description)


@node_algorithm(
    "pageRank", ("score", "FLOAT"), prop="pagerank",
    stream="PageRank over a projected graph, streamed as (nodeId, score)",
    write=("PageRank over a projected graph, written back as a node property",
           "nodePropertiesWritten"),
    stats=("PageRank summary statistics over a projected graph",
           "ranIterations", "nodeCount"),
    mutate=("PageRank with scores stored on the in-catalog projection",
            "nodePropertiesWritten", "ranIterations"),
)
def _pagerank(
    nodes, edges, maxIterations: int = 15, dampingFactor: float = 0.85,
    relationshipWeightProperty: str = None,
):
    """The same BSP kernel the DataFrame catalog uses
    (`operators/gds.py:pagerank`). ``relationshipWeightProperty`` drives
    the weighted variant (the kernel's ``weight_col`` path — out-weights
    normalized per source)."""
    out = gds.pagerank(
        edges, nodes, iterations=int(maxIterations), damping=float(dampingFactor),
        weight_col=None if relationshipWeightProperty is None else "weight",
    )
    return out.select("id", F.col("pr").cast("double").alias("score"))


@node_algorithm(
    "wcc", ("componentId", "INTEGER"), prop="componentId",
    stream="Weakly connected components over a projected graph",
    write=("WCC over a projected graph, written back as a node property",
           "nodePropertiesWritten", "componentCount"),
    stats=("WCC summary statistics over a projected graph",
           "componentCount", "nodeCount"),
    mutate=("WCC with the component id stored on the in-catalog projection",
            "componentCount", "nodePropertiesWritten"),
)
def _wcc(nodes, edges):
    return gds.wcc(edges, nodes).select("id", F.col("comp").alias("componentId"))


@node_algorithm(
    "labelPropagation", ("communityId", "INTEGER"), prop="communityId",
    stream="Label propagation over a projected graph",
    write=("Label propagation over a projected graph, written back as a node property",
           "nodePropertiesWritten", "communityCount"),
)
def _label_propagation(nodes, edges, maxIterations: int = 10):
    out = gds.label_propagation(edges, nodes, max_iter=int(maxIterations))
    return out.select("id", F.col("community").alias("communityId"))


@node_algorithm(
    "louvain", ("communityId", "INTEGER"), prop="communityId",
    stream="Louvain community detection over a projected graph",
    write=("Louvain over a projected graph, written back as a node property",
           "nodePropertiesWritten", "communityCount"),
    stats=("Louvain summary statistics over a projected graph",
           "communityCount", "nodeCount"),
)
def _louvain(nodes, edges):
    out = gds.louvain(edges, nodes)
    return out.select("id", F.col("community").alias("communityId"))


@node_algorithm(
    "degree", ("score", "FLOAT"), prop="degree",
    stream="Degree centrality over a projected graph (NATURAL/REVERSE/UNDIRECTED)",
    write=("Degree centrality over a projected graph, written back as a node property",
           "nodePropertiesWritten"),
)
def _degree(nodes, edges, orientation: str = "NATURAL"):
    o = orientation.upper()
    if o == "NATURAL":
        ends = edges.select(F.col("src").alias("id"))
    elif o == "REVERSE":
        ends = edges.select(F.col("dst").alias("id"))
    elif o == "UNDIRECTED":
        ends = edges.select(F.col("src").alias("id")).unionAll(
            edges.select(F.col("dst").alias("id"))
        )
    else:
        raise ValueError(f"unknown orientation {orientation!r}")
    deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("_d"))
    return nodes.join(deg, "id", "left").select(
        "id", F.coalesce(F.col("_d"), F.lit(0)).cast("double").alias("score")
    )


@node_algorithm(
    "betweenness", ("score", "FLOAT"),
    stream="Betweenness centrality (sampled-source Brandes) over a projected graph",
)
def _betweenness(nodes, edges, samplingSize: int = 64):
    """Bounded source set (GDS samplingSize contract — exact only when it
    covers every node; a landmark set is the honest 100 TB shape); the
    undirected dependency sums halve like the catalog row does."""
    srcs = nodes.orderBy("id").limit(int(samplingSize)).select("id")
    out = gds.betweenness(edges, srcs)
    return nodes.join(out, "id", "left").select(
        "id",
        (F.coalesce(F.col("bc"), F.lit(0.0)) / F.lit(2.0))
        .cast("double")
        .alias("score"),
    )


@node_algorithm(
    "triangleCount", ("triangleCount", "INTEGER"),
    stream="Per-node triangle counts over a projected graph",
    stats=("Global triangle count over a projected graph",
           "globalTriangleCount", "nodeCount"),
)
def _triangle_count(nodes, edges):
    out = gds.local_clustering(edges)
    return nodes.join(out, "id", "left").select(
        "id",
        F.coalesce(F.col("triangles"), F.lit(0)).cast("long").alias("triangleCount"),
    )


@node_algorithm(
    "localClusteringCoefficient", ("localClusteringCoefficient", "FLOAT"),
    stream="Local clustering coefficient over a projected graph",
)
def _local_clustering_coefficient(nodes, edges):
    out = gds.local_clustering(edges)
    return nodes.join(out, "id", "left").select(
        "id",
        F.coalesce(F.col("coeff"), F.lit(0.0))
        .cast("double")
        .alias("localClusteringCoefficient"),
    )


@node_algorithm(
    "scc", ("componentId", "INTEGER"),
    stream="Strongly connected components over a projected (directed) graph",
)
def _scc(nodes, edges):
    return gds.scc(edges, nodes).select("id", F.col("component").alias("componentId"))


@node_algorithm(
    "eigenvector", ("score", "FLOAT"),
    stream="Eigenvector centrality over a projected graph",
)
def _eigenvector(nodes, edges, maxIterations: int = 15):
    out = gds.eigenvector(edges, nodes, iterations=int(maxIterations))
    return out.select("id", F.col("score").cast("double").alias("score"))


@node_algorithm(
    "articleRank", ("score", "FLOAT"),
    stream="ArticleRank over a projected graph",
)
def _article_rank(nodes, edges, maxIterations: int = 15, dampingFactor: float = 0.85):
    out = gds.article_rank(
        edges, nodes, iterations=int(maxIterations), damping=float(dampingFactor)
    )
    return out.select("id", F.col("pr").cast("double").alias("score"))


@node_algorithm(
    "closeness", ("score", "FLOAT"),
    stream="Closeness centrality over a projected graph",
)
def _closeness(nodes, edges):
    out = gds.closeness(edges, nodes.select("id"))
    return nodes.join(out, "id", "left").select(
        "id",
        F.coalesce(F.col("closeness"), F.lit(0.0)).cast("double").alias("score"),
    )


@node_algorithm(
    "closeness.harmonic", ("centrality", "FLOAT"),
    stream="Harmonic centrality (sum of inverse distances) over a projected graph",
)
def _harmonic_closeness(nodes, edges):
    """Σ 1/d over the shared multi-source BFS walk; unreachable pairs
    contribute 0 (harmonic's disconnected-graph grace)."""
    walk = gds.closeness_walk(edges, nodes.select("id"), max_depth=20)
    out = walk.where(F.col("dist") > 0).groupBy(
        F.col("source").alias("id")
    ).agg(F.sum(F.lit(1.0) / F.col("dist")).alias("centrality"))
    return nodes.join(out, "id", "left").select(
        "id",
        F.coalesce(F.col("centrality"), F.lit(0.0)).cast("double").alias(
            "centrality"
        ),
    )


@node_algorithm(
    "kcore", ("coreValue", "INTEGER"),
    stream="K-core decomposition (core value per node) over a projected graph",
)
def _kcore(nodes, edges):
    """Core value by layered peeling: coreValue(v) = max k with
    v ∈ k-core. Each layer is the fixed-k peel kernel; the loop is
    bounded by the degeneracy of the graph (≤ ~log-scale for real
    graphs; a 64-layer cap guards the pathological clique case)."""
    core = nodes.select(F.col("id"), F.lit(0).alias("coreValue"))
    with scope() as loop:
        for k in range(1, 65):
            members = gds.kcore(edges, k=k)
            if members.isEmpty():
                break
            core = loop.advance(
                loop.ckpt(
                    core.join(members.select("id", F.lit(1).alias("_in")), "id", "left")
                    .select(
                        "id",
                        F.when(F.col("_in").isNotNull(), F.lit(k))
                        .otherwise(F.col("coreValue"))
                        .alias("coreValue"),
                    )
                )
            )
            loop.free(members)  # the layer, now folded into core
        return loop.result(
            core.select("id", F.col("coreValue").cast("long").alias("coreValue"))
        )


@node_algorithm(
    "leiden", ("communityId", "INTEGER"),
    stream="Leiden community detection over a projected graph",
)
def _leiden(nodes, edges):
    out = gds.leiden(edges, nodes)
    return out.select("id", F.col("community").alias("communityId"))


@node_algorithm(
    "dag.topologicalSort", ("maxDistanceFromSource", "INTEGER"),
    stream="Topological layering of a DAG (longest distance from any source)",
)
def _topological_sort(nodes, edges):
    """The level-scheduling layering: layer(v) = longest path from a
    source, the order GDS's maxDistanceFromSource yields."""
    out = gds.topological_layers(edges, nodes.select("id"))
    return out.select(
        "id", F.col("layer").cast("long").alias("maxDistanceFromSource")
    )


@procedure(
    "gds.graph.exists",
    signature="gds.graph.exists(graphName :: STRING) :: (graphName :: STRING, exists :: BOOLEAN)",
    description="Check whether a named graph is in the in-memory catalog",
)
def _gds_graph_exists(spark: SparkSession, graphName: str = "") -> DataFrame:
    return local_df(
        spark,
        [(graphName, graphName in _graphs_for(spark))],
        "graphName string, exists boolean",
    )


@procedure(
    "gds.shortestPath.dijkstra.stream",
    signature=(
        "gds.shortestPath.dijkstra.stream(graphName :: STRING, "
        "sourceNode :: INTEGER, targetNode :: INTEGER, "
        "relationshipWeightProperty :: STRING) :: "
        "(sourceNode :: INTEGER, targetNode :: INTEGER, totalCost :: FLOAT)"
    ),
    description=(
        "Shortest-path cost from a source over a projected graph: weighted "
        "by relationshipWeightProperty when given, else hop counts"
    ),
)
def _gds_dijkstra_stream(
    spark: SparkSession, graphName: str = "",
    sourceNode: int = 0, targetNode: int = None,
    relationshipWeightProperty: str = None,
) -> DataFrame:
    """``CALL gds.shortestPath.dijkstra.stream('g', {sourceNode: …,
    targetNode: …, relationshipWeightProperty: …})`` (r12) — with a
    weight property the projected property column drives the same
    Bellman-Ford BSP kernel the sssp catalog rows audit; without one
    costs are hop counts (GDS's defaultValue:1 convention).
    ``sourceNode``/``targetNode`` accept ints (the façade resolves bound
    node variables to ids before dispatch — the canonical
    ``MATCH (source) CALL …{sourceNode: source}`` shape)."""
    src_id = _node_arg(sourceNode, "sourceNode")
    src = local_df(spark, [(src_id,)], "id long")
    _, edges = _projected_graph(spark, graphName, relationshipWeightProperty)
    if relationshipWeightProperty is not None:
        out = gds.sssp(edges, src, weight_col="weight")
    else:
        out = gds.bfs(edges, src)
    out = out.select(
        F.lit(src_id).alias("sourceNode"),
        F.col("id").alias("targetNode"),
        F.col("dist").cast("double").alias("totalCost"),
    )
    if targetNode is not None:
        out = out.where(F.col("targetNode") == _node_arg(targetNode, "targetNode"))
    return out


@procedure(
    "gds.allShortestPaths.dijkstra.stream",
    signature=(
        "gds.allShortestPaths.dijkstra.stream(graphName :: STRING, "
        "sourceNode :: INTEGER, relationshipWeightProperty :: STRING) :: "
        "(sourceNode :: INTEGER, targetNode :: INTEGER, totalCost :: FLOAT)"
    ),
    description="Single-source shortest-path costs to every reachable node",
)
def _gds_all_shortest_paths_dijkstra_stream(
    spark: SparkSession, graphName: str = "", sourceNode: int = 0,
    relationshipWeightProperty: str = None,
) -> DataFrame:
    """``gds.allShortestPaths.dijkstra.stream`` — GDS's name for the
    no-target single-source variant; same weighted Bellman-Ford BSP."""
    return _gds_dijkstra_stream(
        spark, graphName, sourceNode, None, relationshipWeightProperty
    )


@procedure(
    "gds.bellmanFord.stream",
    signature=(
        "gds.bellmanFord.stream(graphName :: STRING, sourceNode :: INTEGER, "
        "relationshipWeightProperty :: STRING) :: (sourceNode :: INTEGER, "
        "targetNode :: INTEGER, totalCost :: FLOAT, isNegativeCycle :: BOOLEAN)"
    ),
    description="Bellman-Ford shortest paths (negative weights allowed) with cycle detection",
)
def _gds_bellman_ford_stream(
    spark: SparkSession, graphName: str = "", sourceNode: int = 0,
    relationshipWeightProperty: str = None,
) -> DataFrame:
    """``gds.bellmanFord.stream`` (r12) — negative weights allowed; the
    kernel's converged flag drives per-node negative-cycle marking (a
    non-converged improvable node sits on or behind a negative cycle)."""
    src_id = _node_arg(sourceNode, "sourceNode")
    src = local_df(spark, [(src_id,)], "id long")
    _, edges = _projected_graph(spark, graphName, relationshipWeightProperty)
    if relationshipWeightProperty is None:
        edges = edges.withColumn("weight", F.lit(1).cast("long"))
    out = gds.bellman_ford(edges, src, weight_col="weight")
    neg = "on_negative_cycle" if "on_negative_cycle" in out.columns else None
    return out.select(
        F.lit(src_id).alias("sourceNode"),
        F.col("id").alias("targetNode"),
        F.col("dist").cast("double").alias("totalCost"),
        (F.col(neg) if neg else F.lit(False)).alias("isNegativeCycle"),
    )


@procedure(
    "gds.shortestPath.yens.stream",
    signature=(
        "gds.shortestPath.yens.stream(graphName :: STRING, "
        "sourceNode :: INTEGER, targetNode :: INTEGER, k :: INTEGER, "
        "relationshipWeightProperty :: STRING, maxHops :: INTEGER) :: "
        "(index :: INTEGER, sourceNode :: INTEGER, targetNode :: INTEGER, "
        "totalCost :: FLOAT, path :: STRING)"
    ),
    description="K-shortest loopless paths between a source and a target",
)
def _gds_yens_stream(
    spark: SparkSession, graphName: str = "", sourceNode: int = 0,
    targetNode: int = 0, k: int = 3,
    relationshipWeightProperty: str = None, maxHops: int = 8,
) -> DataFrame:
    """``gds.shortestPath.yens.stream`` (r12) — the set-wise K-shortest
    kernel (one bounded traversal + per-pair top-k window, never
    |pairs|·K sequential re-runs; ``operators/paths.k_shortest_paths``).
    ``path`` streams as the '->'-joined node-id text (GDS's PATH objects
    don't exist on the wire here — documented)."""
    from ..operators.paths import k_shortest_paths

    src_id = _node_arg(sourceNode, "sourceNode")
    tgt_id = _node_arg(targetNode, "targetNode")
    _, edges = _projected_graph(spark, graphName, relationshipWeightProperty)
    wcol = None if relationshipWeightProperty is None else "weight"
    srcs = local_df(spark, [(src_id,)], "id long")
    tgts = local_df(spark, [(tgt_id,)], "id long")
    out = k_shortest_paths(
        edges, srcs, k=int(k), max_hops=int(maxHops),
        weight_col=wcol, targets=tgts,
    )
    return out.select(
        (F.col("rank") - 1).cast("long").alias("index"),
        F.col("start_id").alias("sourceNode"),
        F.col("end_id").alias("targetNode"),
        F.col("cost").cast("double").alias("totalCost"),
        F.col("path_str").alias("path"),
    )


@procedure(
    "gds.shortestPath.astar.stream",
    signature=(
        "gds.shortestPath.astar.stream(graphName :: STRING, "
        "sourceNode :: INTEGER, targetNode :: INTEGER, "
        "relationshipWeightProperty :: STRING, xProperty :: STRING, "
        "yProperty :: STRING, longitudeProperty :: STRING, "
        "latitudeProperty :: STRING) :: "
        "(sourceNode :: INTEGER, targetNode :: INTEGER, totalCost :: FLOAT)"
    ),
    description="A* single-pair shortest path over x/y node coordinates",
)
def _gds_astar_stream(
    spark: SparkSession, graphName: str = "", sourceNode: int = 0,
    targetNode: int = 0, relationshipWeightProperty: str = None,
    xProperty: str = "x", yProperty: str = "y",
    longitudeProperty: str = None, latitudeProperty: str = None,
) -> DataFrame:
    """``gds.shortestPath.astar.stream`` (r12) — the A*-pruned BSP kernel
    over projected coordinate properties. GDS's haversine lat/long config
    maps onto the planar x/y heuristic (admissibility stays the caller's
    contract, as in GDS)."""
    src_id = _node_arg(sourceNode, "sourceNode")
    tgt_id = _node_arg(targetNode, "targetNode")
    xp = longitudeProperty or xProperty
    yp = latitudeProperty or yProperty
    nodes = _catalog_entry(spark, graphName)[0]
    missing = [p for p in (xp, yp) if p not in nodes.columns]
    if missing:
        raise ValueError(
            f"Coordinate propert{'ies' if len(missing) > 1 else 'y'} "
            f"{missing} not present in graph '{graphName}'"
        )
    coords = nodes.select(
        "id",
        F.col(xp).cast("double").alias("x"),
        F.col(yp).cast("double").alias("y"),
    )
    _, edges = _projected_graph(spark, graphName, relationshipWeightProperty)
    if relationshipWeightProperty is None:
        edges = edges.withColumn("weight", F.lit(1.0))
    out = gds.astar(edges, coords, src_id, tgt_id, weight_col="weight")
    return out.select(
        F.lit(src_id).alias("sourceNode"),
        F.lit(tgt_id).alias("targetNode"),
        F.col("total_cost").cast("double").alias("totalCost"),
    )


@procedure(
    "gds.fastRP.stream",
    signature=(
        "gds.fastRP.stream(graphName :: STRING, embeddingDimension :: "
        "INTEGER) :: (nodeId :: INTEGER, embedding :: LIST)"
    ),
    description="FastRP node embeddings (deterministic sparse random projection)",
)
def _gds_fastrp_stream(
    spark: SparkSession, graphName: str = "", embeddingDimension: int = 8
) -> DataFrame:
    """``gds.fastRP.stream`` (r12) — the long-form (id, j, v) kernel
    pivots to one array per node with a single groupBy (dimension order
    by j; the long form is the scale design, the pivot is the wire
    shape)."""
    nodes, edges = _projected_graph(spark, graphName)
    out = gds.fastrp(edges, nodes, dim=int(embeddingDimension))
    return (
        out.groupBy("id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("j", "v"))),
                lambda s: s["v"],
            ).alias("embedding")
        )
        .select(F.col("id").alias("nodeId"), "embedding")
    )


@procedure(
    "gds.randomWalk.stream",
    signature=(
        "gds.randomWalk.stream(graphName :: STRING, sourceNode :: INTEGER, "
        "walkLength :: INTEGER) :: (sourceNode :: INTEGER, "
        "nodeIds :: LIST)"
    ),
    description="Deterministic hash-seeded random walks from the source nodes",
)
def _gds_random_walk_stream(
    spark: SparkSession, graphName: str = "",
    # int-annotated so a trailing config map unpacks into kwargs
    sourceNode: int = None, walkLength: int = 5,
) -> DataFrame:
    """``gds.randomWalk.stream`` (r12) — the deterministic hash-chooser
    walk kernel (reproducible across runs/engines, replica-minhash
    convention); one walk per source (every node when sourceNode is
    omitted), streamed as the ordered node-id list."""
    nodes, edges = _projected_graph(spark, graphName)
    if sourceNode is not None:
        srcs = local_df(
            spark, [(_node_arg(sourceNode, "sourceNode"),)], "id long"
        )
    else:
        srcs = nodes.select("id")
    out = gds.random_walk(edges, srcs, steps=int(walkLength))
    return out.groupBy(F.col("walk_id").alias("sourceNode")).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("step", "id"))),
            lambda s: s["id"],
        ).alias("nodeIds")
    )


@procedure(
    "gds.sllpa.stream",
    signature=(
        "gds.sllpa.stream(graphName :: STRING, maxIterations :: INTEGER) :: "
        "(nodeId :: INTEGER, communityIds :: LIST)"
    ),
    description="Speaker-Listener LPA (overlapping communities) over a projected graph",
)
def _gds_sllpa_stream(
    spark: SparkSession, graphName: str = "", maxIterations: int = 5
) -> DataFrame:
    """``gds.sllpa.stream`` (r12) — overlapping community memberships
    from the deterministic speaker-listener kernel; each node streams
    its sorted community-id list (GDS's pending-communities shape)."""
    nodes, edges = _projected_graph(spark, graphName)
    out = gds.sllpa(edges, nodes.select("id"), rounds=int(maxIterations))
    return out.groupBy(F.col("id").alias("nodeId")).agg(
        F.array_sort(F.collect_list(F.col("label"))).alias("communityIds")
    )


@procedure(
    "gds.bfs.stream",
    signature=(
        "gds.bfs.stream(graphName :: STRING, sourceNode :: INTEGER) :: "
        "(nodeId :: INTEGER, distance :: INTEGER)"
    ),
    description="BFS hop distances from a source over a projected graph",
)
def _gds_bfs_stream(
    spark: SparkSession, graphName: str = "", sourceNode: int = 0
) -> DataFrame:
    _, edges = _projected_graph(spark, graphName)
    src = local_df(spark, [(int(sourceNode),)], "id long")
    out = gds.bfs(edges, src)
    return out.select(
        F.col("id").alias("nodeId"), F.col("dist").cast("long").alias("distance")
    )


# knn scale-path tuning: exact broadcast cosine up to _KNN_EXACT_MAX
# nodes; above that, LSH buckets with oversized buckets hash-split into
# chunks of <= _KNN_BUCKET_CAP members (module-level so tests can patch).
_KNN_EXACT_MAX = 100_000
_KNN_BUCKET_CAP = 4096


@procedure(
    "gds.knn.stream",
    signature=(
        "gds.knn.stream(graphName :: STRING, nodeProperties :: LIST, "
        "topK :: INTEGER) :: (node1 :: INTEGER, node2 :: INTEGER, "
        "similarity :: FLOAT)"
    ),
    description=(
        "K-nearest neighbours by cosine over projected node properties "
        "(exact; ties break on neighbour id)"
    ),
)
def _gds_knn_stream(
    spark: SparkSession, graphName: str = "",
    # annotated str so a trailing config map unpacks into kwargs (the
    # canonical call is always `('g', {nodeProperties: …, topK: …})`);
    # a direct list/str value works the same at runtime
    nodeProperties: str = None, topK: int = 10,
) -> DataFrame:
    """``CALL gds.knn.stream('g', {nodeProperties: ['emb'], topK: k})`` —
    the projected nodes frame keeps its property columns, so the vector
    assembles per node (array-valued property passes through, scalars
    stack into one vector). Up to 100k nodes: exact cosine with the
    small side broadcast (the llm_ann audited shape). Beyond that the
    broadcast would not fit an executor, so candidates form inside
    LSH hyperplane buckets instead (GDS's own KNN is approximate too) —
    never an all-pairs product at scale. (GDS's per-type metric zoo
    reduces to cosine here — documented.)"""
    from pyspark.sql import Window
    from ..operators.similarity import dot, l2_norm

    nodes, _, node_count, _ = _catalog_entry(spark, graphName)
    props = (
        [nodeProperties]
        if isinstance(nodeProperties, str)
        else list(nodeProperties or [])
    )
    if not props:
        raise ValueError("gds.knn.stream requires nodeProperties")
    missing = [p for p in props if p not in nodes.columns]
    if missing:
        raise ValueError(
            f"Node propert{'ies' if len(missing) > 1 else 'y'} {missing} "
            f"not present in graph '{graphName}'"
        )
    if len(props) == 1:
        dt = dict(nodes.dtypes)[props[0]]
        vec = (
            F.col(props[0]).cast("array<double>")
            if dt.startswith("array")
            else F.array(F.col(props[0]).cast("double"))
        )
    else:
        vec = F.array(*[F.col(p).cast("double") for p in props])
    frame = nodes.select(F.col("id"), vec.alias("_v"), l2_norm(vec).alias("_n"))
    if node_count > _KNN_EXACT_MAX:
        # scale path: bucket by LSH hyperplane signs — candidates only
        # form inside a bucket (equi-join), so no side is broadcast and
        # no all-pairs product exists. Approximate, like GDS's own KNN.
        from ..operators.similarity import lsh_bucket

        dim_row = frame.select(F.size("_v").alias("_d")).first()
        dim = int(dim_row["_d"]) if dim_row and dim_row["_d"] else 1
        frame = frame.withColumn("_bkt", lsh_bucket(F.col("_v"), dim, 16))
        # pathological-bucket guard (the dedup.py convention): a bucket
        # whose membership explodes past the cap would quadratically
        # dominate the join. SPLIT it into deterministic hash chunks of
        # ≤cap members instead of dropping it (r13 — ADVICE r12: the old
        # left-semi drop gave dense regions ZERO neighbours, silently):
        # every node keeps ~cap same-bucket candidates; approximate, like
        # GDS's own KNN, but never empty and never quadratic.
        cap = _KNN_BUCKET_CAP
        sizes = frame.groupBy("_bkt").agg(F.count(F.lit(1)).alias("_bn"))
        frame = frame.join(F.broadcast(sizes), "_bkt")
        frame = frame.withColumn(
            "_bkt",
            F.when(
                F.col("_bn") <= cap, F.col("_bkt").cast("string")
            ).otherwise(
                F.concat_ws(
                    "#",
                    F.col("_bkt").cast("string"),
                    F.pmod(
                        F.xxhash64(F.col("id")),
                        F.ceil(F.col("_bn") / cap).cast("long"),
                    ).cast("string"),
                )
            ),
        ).drop("_bn")
        q = frame.select(
            "_bkt", F.col("id").alias("node1"),
            F.col("_v").alias("_qv"), F.col("_n").alias("_qn"),
        )
        c = frame.select(
            "_bkt", F.col("id").alias("node2"),
            F.col("_v").alias("_cv"), F.col("_n").alias("_cn"),
        )
        scored = (
            q.join(c, "_bkt")
            .where(F.col("node1") != F.col("node2"))
            .select(
                "node1",
                "node2",
                (
                    dot(F.col("_qv"), F.col("_cv"))
                    / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-12))
                ).alias("similarity"),
            )
        )
    else:
        q = F.broadcast(
            frame.select(
                F.col("id").alias("node1"),
                F.col("_v").alias("_qv"),
                F.col("_n").alias("_qn"),
            )
        )
        c = frame.select(
            F.col("id").alias("node2"),
            F.col("_v").alias("_cv"),
            F.col("_n").alias("_cn"),
        )
        scored = q.join(c, F.col("node1") != F.col("node2")).select(
            "node1",
            "node2",
            (
                dot(F.col("_qv"), F.col("_cv"))
                / F.greatest(F.col("_qn") * F.col("_cn"), F.lit(1e-12))
            ).alias("similarity"),
        )
    w = Window.partitionBy("node1").orderBy(
        F.desc("similarity"), F.asc("node2")
    )
    return (
        scored.withColumn("_rk", F.row_number().over(w))
        .where(F.col("_rk") <= int(topK))
        .drop("_rk")
    )


@procedure(
    "gds.nodeSimilarity.stream",
    signature="gds.nodeSimilarity.stream(graphName :: STRING, similarityCutoff :: FLOAT) :: (node1 :: INTEGER, node2 :: INTEGER, similarity :: FLOAT)",
    description="Jaccard node similarity over a projected graph (bucket-join, never all-pairs)",
)
def _gds_node_similarity_stream(
    spark: SparkSession, graphName: str = "", similarityCutoff: float = 0.0
) -> DataFrame:
    _, edges = _projected_graph(spark, graphName)
    out = gds.node_similarity(edges, min_jaccard=float(similarityCutoff))
    return out.select(
        F.col("node_a").alias("node1"),
        F.col("node_b").alias("node2"),
        F.col("jaccard").cast("double").alias("similarity"),
    )


@procedure(
    "db.relationshipTypes",
    signature="db.relationshipTypes() :: (relationshipType :: STRING)",
    description="List all relationship types in the graph",
)
def _db_relationship_types(spark: SparkSession, graph=None) -> DataFrame:
    if graph is None:
        return local_df(spark, [], "relationshipType string")
    return (
        graph.rels.select(F.col("type").alias("relationshipType"))
        .distinct()
        .orderBy("relationshipType")
    )


@procedure(
    "db.propertyKeys",
    signature="db.propertyKeys() :: (propertyKey :: STRING)",
    description="List all property keys (node and relationship columns)",
)
def _db_property_keys(spark: SparkSession, graph=None) -> DataFrame:
    if graph is None:
        return local_df(spark, [], "propertyKey string")
    fixed = {"id", "labels", "src", "dst", "type"}
    keys = sorted(
        {c for c in graph.nodes.columns if c not in fixed}
        | {c for c in graph.rels.columns if c not in fixed}
    )
    return local_df(spark, [(k,) for k in keys], "propertyKey string")


@procedure(
    "apoc.meta.stats",
    signature=(
        "apoc.meta.stats() :: (nodeCount :: INTEGER, relCount :: INTEGER, "
        "labelCount :: INTEGER, relTypeCount :: INTEGER, propertyKeyCount :: INTEGER)"
    ),
    description="Whole-graph metadata summary counts",
)
def _apoc_meta_stats(spark: SparkSession, graph=None) -> DataFrame:
    schema = (
        "nodeCount long, relCount long, labelCount long, relTypeCount long,"
        " propertyKeyCount long"
    )
    if graph is None:
        return local_df(spark, [(0, 0, 0, 0, 0)], schema)
    fixed = {"id", "labels", "src", "dst", "type"}
    n_keys = len(
        {c for c in graph.nodes.columns if c not in fixed}
        | {c for c in graph.rels.columns if c not in fixed}
    )
    # one job: counts + distincts via two tiny aggregates
    nc = graph.nodes.count()
    rc = graph.rels.count()
    lc = graph.nodes.select(F.explode("labels").alias("l")).distinct().count()
    tc = graph.rels.select("type").distinct().count()
    return local_df(spark, [(nc, rc, lc, tc, n_keys)], schema)


@procedure(
    "apoc.meta.schema",
    signature="apoc.meta.schema() :: (value :: MAP)",
    description="Schema summary: per-label property/count map",
)
def _apoc_meta_schema(spark: SparkSession, graph=None) -> DataFrame:
    """apoc.meta.schema — one row whose ``value`` maps each label to a
    JSON summary (type/count/properties). Sorted keys, so the output is
    deterministic; property lists come from the label-filtered frame's
    non-null columns (one tiny aggregate per label)."""
    import json as _json

    if graph is None:
        return local_df(spark, [({},)], "value map<string,string>")
    fixed = {"id", "labels"}
    labels = [
        r[0]
        for r in graph.nodes.select(F.explode("labels").alias("l"))
        .distinct()
        .orderBy("l")
        .collect()
    ]
    value: dict[str, str] = {}
    for lb in labels:
        sub = graph.nodes.where(F.array_contains(F.col("labels"), lb))
        prop_cols = [c for c in sub.columns if c not in fixed]
        aggs = [F.count(F.lit(1)).alias("_n")] + [
            F.count(F.col(c)).alias(c) for c in prop_cols
        ]
        row = sub.agg(*aggs).first()
        props = sorted(c for c in prop_cols if row[c] > 0)
        value[lb] = _json.dumps(
            {"type": "node", "count": row["_n"], "properties": props},
            sort_keys=True,
        )
    return local_df(
        spark, [(value,)], "value map<string,string>"
    )


@procedure(
    "dbms.components",
    signature=(
        "dbms.components() :: (name :: STRING, versions :: LIST, edition :: STRING)"
    ),
    description="Server component name, versions, and edition",
)
def _dbms_components(spark: SparkSession) -> DataFrame:
    from .. import __version__

    return local_df(spark, 
        [("Neo4j Kernel", [__version__], "community")],
        "name string, versions array<string>, edition string",
    )


@procedure(
    "apoc.export.json.all",
    signature=(
        "apoc.export.json.all(file :: STRING) :: "
        "(file :: STRING, nodes :: INTEGER, relationships :: INTEGER)"
    ),
    description="Export the whole graph as JSONL (nodes + rels directories)",
)
def _apoc_export_json_all(spark: SparkSession, file: str = "", graph=None) -> DataFrame:
    schema = "file string, nodes long, relationships long"
    if graph is None or not file:
        return local_df(spark, [], schema)
    from ..sources.textdata import write_jsonl

    write_jsonl(graph.nodes, f"{file}/nodes")
    write_jsonl(graph.rels, f"{file}/rels")
    return local_df(spark, 
        [(file, graph.nodes.count(), graph.rels.count())], schema
    )


@procedure(
    "apoc.load.json",
    signature="apoc.load.json(file :: STRING) :: (value :: MAP)",
    description="Load a JSON-lines file; one row per object (apoc load surface)",
)
def _apoc_load_json(spark: SparkSession, file: str = "", graph=None) -> DataFrame:
    """``CALL apoc.load.json('/path')`` — the apoc plugin's file-load
    surface (manifest calver/coredb/neo4j-plugins.json) on Spark's
    distributed JSON reader: one row per top-level object, columns
    re-packed into apoc's single ``value`` map (values stringified — the
    façade's map columns are string-valued, like property maps from
    LOAD CSV). Schema inference is one extra pass, exactly Spark's
    documented JSON-source behavior."""
    if not file:
        return local_df(spark, [], "value map<string,string>")
    df = spark.read.json(file)
    return df.select(
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in df.columns]),
            F.array(*[F.col(c).cast("string") for c in df.columns]),
        ).alias("value")
    )


@procedure(
    "apoc.load.csv",
    signature="apoc.load.csv(file :: STRING) :: (lineNo :: INTEGER, list :: LIST, map :: MAP)",
    description="Load a CSV file with headers; apoc's (lineNo, list, map) shape",
)
def _apoc_load_csv(spark: SparkSession, file: str = "", graph=None) -> DataFrame:
    """``CALL apoc.load.csv('/path')`` — header CSV to apoc's documented
    (lineNo, list, map) row shape. lineNo is the 0-based position in
    file order, assigned distributed: per-partition row_number plus
    broadcast per-partition offsets (the ``curation.global_rank``
    technique — bounded collect of one count per partition, NO
    single-task global window)."""
    from pyspark.sql import Window

    schema = "lineNo bigint, list array<string>, map map<string,string>"
    if not file:
        return local_df(spark, [], schema)
    df = spark.read.csv(file, header=True)
    cols = df.columns
    part = df.withColumn("_pid", F.spark_partition_id()).withColumn(
        "_mono", F.monotonically_increasing_id()
    )
    sizes = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets, acc = {}, 0
    for pid in sorted(sizes):
        offsets[pid] = acc
        acc += sizes[pid]
    off = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    ) if offsets else F.create_map()
    in_part = F.row_number().over(
        Window.partitionBy("_pid").orderBy("_mono")
    )
    return part.select(
        (F.coalesce(off[F.col("_pid")], F.lit(0)) + in_part - 1)
        .cast("long")
        .alias("lineNo"),
        F.array(*[F.col(c).cast("string") for c in cols]).alias("list"),
        F.map_from_arrays(
            F.array(*[F.lit(c) for c in cols]),
            F.array(*[F.col(c).cast("string") for c in cols]),
        ).alias("map"),
    )


@procedure(
    "apoc.load.xml",
    signature="apoc.load.xml(file :: STRING, element :: STRING, attrs :: LIST OF STRING) :: (value :: MAP)",
    description="Load an element-per-line XML file; each element's attributes as a map",
)
def _apoc_load_xml(
    spark: SparkSession, file: str = "", element: str = "", attrs=None, graph=None
) -> DataFrame:
    """``CALL apoc.load.xml('/path', 'row', ['a','b'])`` — the
    attribute-record subset of APOC's XML loader: one map per element
    with the requested attributes (absent → NULL). Extraction is the
    JVM xpath engine over a distributed line read (sources/xmldata.py)
    — no Python XML parsing in the data path."""
    from ..sources.xmldata import load_xml

    if not file or not element:
        return local_df(spark, [], "value map<string,string>")
    names = [str(a) for a in (attrs or [])]
    if not names:
        raise ValueError("apoc.load.xml: attrs list is required")
    flat = load_xml(spark, file, element, names)
    return flat.select(
        F.map_from_arrays(
            F.array(*[F.lit(a) for a in names]),
            F.array(*[F.col(a).cast("string") for a in names]),
        ).alias("value")
    )


@procedure(
    "dbms.procedures",
    signature="dbms.procedures() :: (name :: STRING, signature :: STRING, description :: STRING)",
    description="List registered procedures (legacy alias of SHOW PROCEDURES)",
)
def _dbms_procedures(spark: SparkSession):
    """dbms.procedures — the pre-4.3 listing the reference's own driver
    path calls (DatabaseIO.java runs it when SHOW PROCEDURES is too new
    for the server under test)."""
    return show_procedures(spark)


@procedure(
    "apoc.coll.zipToRows",
    signature="apoc.coll.zipToRows(list1 :: LIST OF ANY, list2 :: LIST OF ANY) :: (value :: LIST OF ANY)",
    description="Zip two lists into one row per pair (APOC virtual-row procedure)",
)
def _apoc_coll_zip_to_rows(spark: SparkSession, list1=None, list2=None) -> DataFrame:
    """apoc.coll.zipToRows — one row per zipped [a, b] pair, truncated to
    the shorter list (APOC's zip contract). Literal-argument procedure:
    the row count is bounded by the statement text."""
    from ..localframe import local_df

    pairs = list(zip(list(list1 or []), list(list2 or [])))
    vals = [v for p in pairs for v in p]
    if vals and all(
        isinstance(v, int) and not isinstance(v, bool) for v in vals
    ):
        return local_df(
            spark, [([x, y],) for x, y in pairs], "value array<bigint>"
        )
    if vals and all(
        isinstance(v, (int, float)) and not isinstance(v, bool) for v in vals
    ):
        # all-numeric with at least one float → typed doubles (r14 —
        # ADVICE r13: APOC preserves value types; [1.5, 2.5] must not
        # come back as ['1.5', '2.5'])
        return local_df(
            spark,
            [([float(x), float(y)],) for x, y in pairs],
            "value array<double>",
        )
    if vals and all(isinstance(v, bool) for v in vals):
        return local_df(
            spark, [([x, y],) for x, y in pairs], "value array<boolean>"
        )
    # mixed / string pairs carry as text (one array type per column)
    return local_df(
        spark,
        [([str(x), str(y)],) for x, y in pairs],
        "value array<string>",
    )


@procedure(
    "apoc.help",
    signature="apoc.help(proc :: STRING) :: (type :: STRING, name :: STRING, text :: STRING)",
    description="List procedures and functions whose name contains the search string",
)
def _apoc_help(spark: SparkSession, proc: str = ""):
    """apoc.help — substring search over the registered procedure +
    function catalogs (APOC core's discovery helper)."""
    p = show_procedures(spark).select(
        F.lit("procedure").alias("type"),
        F.col("name"),
        F.col("description").alias("text"),
    )
    fns = show_functions(spark).select(
        F.lit("function").alias("type"),
        F.col("name"),
        F.col("category").alias("text"),
    )
    out = p.unionByName(fns)
    if proc:
        out = out.where(F.col("name").contains(proc))
    return out.orderBy("name")


@procedure(
    "apoc.cypher.run",
    signature="apoc.cypher.run(statement :: STRING, params :: MAP) :: (value :: ANY)",
    description="Run a dynamically constructed read statement with $-parameters",
)
def _apoc_cypher_run(spark: SparkSession, statement: str = "", params=None, session=None):
    """apoc.cypher.run — the dynamic-subquery procedure of APOC core
    (plugin manifest: /root/reference/docker-image-src/3.5/coredb/
    neo4j-plugins.json:3-8). The statement executes through the SAME
    façade session, so it sees the live store (read-your-writes) and
    every registered function. Columns surface natively instead of being
    re-wrapped in APOC's untyped `value` map — documented deviation: the
    map form erases the types a DataFrame keeps. Write clauses are
    refused (APOC routes those to apoc.cypher.doIt)."""
    if session is None:
        raise ValueError("apoc.cypher.run requires a session context")
    stmt = (statement or "").strip()
    if not stmt:
        raise ValueError("apoc.cypher.run: empty statement")
    # Read-only guard: a write verb can appear anywhere a clause can —
    # at depth 0 (WITH 1 AS x CREATE ..., UNWIND ... DELETE ...) AND
    # inside `{}` braces, which host CALL { … } subqueries. Tokenizing
    # keeps the scan quote-safe (a literal 'please DELETE me' is one
    # string token). Paren/bracket nesting is expression context (no
    # clauses live there) and is skipped; within braces a verb-shaped
    # ident is exempt only as a map KEY (followed by ':'), a map VALUE
    # (preceded by ':'), or property access (preceded by '.') — a real
    # write clause can never be adjacent to ':' or '.'.
    from ..cypher.lexer import tokenize as _lex_tokenize

    # FOREACH is itself a write clause (its body may only hold write
    # clauses, which sit inside the FOREACH parens and would otherwise
    # be skipped as expression context) — block the keyword.
    _WRITE_VERBS = {
        "CREATE", "MERGE", "SET", "DELETE", "DETACH", "REMOVE", "DROP", "FOREACH",
    }
    toks = _lex_tokenize(stmt)
    pb_depth = 0  # ( and [ nesting — expression-only context
    for i, t in enumerate(toks):
        if t.kind == "punct":
            if t.text in "([":
                pb_depth += 1
            elif t.text in ")]":
                pb_depth -= 1
                if pb_depth < 0:
                    # Unbalanced closer: the depth bookkeeping is no
                    # longer trustworthy, so fail closed instead of
                    # letting the rest of the statement scan at a
                    # negative (== truthy == exempt) depth.
                    raise ValueError(
                        "apoc.cypher.run: unbalanced ')' or ']' in statement"
                    )
            continue
        if pb_depth or t.kind != "ident" or t.text.upper() not in _WRITE_VERBS:
            continue
        prev = toks[i - 1] if i else None
        nxt = toks[i + 1] if i + 1 < len(toks) else None
        if prev is not None and prev.kind == "punct" and prev.text in (".", ":"):
            continue
        if nxt is not None and nxt.kind == "punct" and nxt.text == ":":
            continue
        raise ValueError(
            "apoc.cypher.run is read-only; use apoc.cypher.doIt for writes"
        )
    return session.run(stmt, params or None)


@procedure(
    "apoc.cypher.doIt",
    signature="apoc.cypher.doIt(statement :: STRING, params :: MAP) :: (value :: ANY)",
    description="Run a dynamically constructed statement that may update the graph",
)
def _apoc_cypher_do_it(spark: SparkSession, statement: str = "", params=None, session=None):
    """apoc.cypher.doIt — the writing twin of apoc.cypher.run (no
    read-only guard); same native-column deviation."""
    if session is None:
        raise ValueError("apoc.cypher.doIt requires a session context")
    stmt = (statement or "").strip()
    if not stmt:
        raise ValueError("apoc.cypher.doIt: empty statement")
    return session.run(stmt, params or None)


@procedure(
    "apoc.export.graphml.all",
    signature="apoc.export.graphml.all(file :: STRING, config :: MAP) :: (file :: STRING, nodes :: INTEGER, relationships :: INTEGER)",
    description="Export the whole graph to GraphML",
)
def _apoc_export_graphml_all(spark: SparkSession, file: str = "", config=None, graph=None):
    """apoc.export.graphml.all — one ordered single-document write; the
    line set stays a distributed DataFrame until the sink (see
    sources/graphml.py)."""
    from ..sources.graphml import write_graphml

    if graph is None:
        raise ValueError("apoc.export.graphml.all requires a graph context")
    if not file:
        raise ValueError("apoc.export.graphml.all: file is required")
    write_graphml(graph.nodes, graph.rels, file)
    return local_df(spark, 
        [(file, graph.nodes.count(), graph.rels.count())],
        "file string, nodes long, relationships long",
    )


@procedure(
    "apoc.refactor.rename.label",
    signature="apoc.refactor.rename.label(oldLabel :: STRING, newLabel :: STRING) :: (total :: INTEGER)",
    description="Rename a node label on every node carrying it",
)
def _refactor_rename_label(spark: SparkSession, oldLabel: str = "", newLabel: str = "", store=None):
    """apoc.refactor.rename.label — one map pass over the node frame
    (transform on the labels array); label-pruned views rebuild lazily
    after the swap."""
    if store is None:
        raise ValueError("apoc.refactor.rename.label requires a store context")
    if not oldLabel or not newLabel:
        raise ValueError("apoc.refactor.rename.label: both labels are required")
    nodes = store.graph.nodes
    total = nodes.where(F.array_contains("labels", oldLabel)).count()
    renamed = nodes.withColumn(
        "labels",
        F.transform(
            "labels",
            lambda l: F.when(l == oldLabel, F.lit(newLabel)).otherwise(l),
        ),
    )
    store._swap(nodes=renamed)
    return local_df(spark, [(total,)], "total long")


@procedure(
    "apoc.refactor.rename.type",
    signature="apoc.refactor.rename.type(oldType :: STRING, newType :: STRING) :: (total :: INTEGER)",
    description="Rename a relationship type on every relationship carrying it",
)
def _refactor_rename_type(spark: SparkSession, oldType: str = "", newType: str = "", store=None):
    """apoc.refactor.rename.type — map pass over the relationship frame."""
    if store is None:
        raise ValueError("apoc.refactor.rename.type requires a store context")
    if not oldType or not newType:
        raise ValueError("apoc.refactor.rename.type: both types are required")
    rels = store.graph.rels
    total = rels.where(F.col("type") == oldType).count()
    retyped = rels.withColumn(
        "type",
        F.when(F.col("type") == oldType, F.lit(newType)).otherwise(F.col("type")),
    )
    store._swap(rels=retyped)
    return local_df(spark, [(total,)], "total long")


@procedure(
    "apoc.refactor.mergeNodes",
    signature="apoc.refactor.mergeNodes(nodes :: LIST OF INTEGER) :: (id :: INTEGER, merged :: INTEGER)",
    description="Merge a list of nodes into the first: union labels, first-non-null properties, rewire relationships",
)
def _refactor_merge_nodes(spark: SparkSession, nodes=None, store=None):
    """apoc.refactor.mergeNodes — the first listed node survives; labels
    union in list order, each property takes the first non-null value in
    list order, every relationship endpoint on a merged-away node rewires
    to the survivor (self-relationships that result are kept, matching
    APOC's preserve default). The collect is bounded by the CALL
    argument's length — merging a literal id list is inherently a
    driver-sized operation."""
    if store is None:
        raise ValueError("apoc.refactor.mergeNodes requires a store context")
    ids = [int(x) for x in (nodes or [])]
    if len(ids) < 2:
        raise ValueError("apoc.refactor.mergeNodes needs at least two node ids")
    frame = store.graph.nodes
    rows = {r["id"]: r for r in frame.where(F.col("id").isin(ids)).collect()}
    missing = [i for i in ids if i not in rows]
    if missing:
        raise ValueError(f"apoc.refactor.mergeNodes: unknown node ids {missing}")
    target = ids[0]
    labels: list[str] = []
    merged = {}
    for i in ids:
        r = rows[i].asDict()
        for lab in r.get("labels") or []:
            if lab not in labels:
                labels.append(lab)
        for c, v in r.items():
            if c in ("id", "labels"):
                continue
            if merged.get(c) is None and v is not None:
                merged[c] = v
    out_row = {"id": target, "labels": labels, **{
        c: merged.get(c) for c in frame.columns if c not in ("id", "labels")
    }}
    survivor = local_df(spark, [tuple(out_row[c] for c in frame.columns)], frame.schema)
    new_nodes = frame.where(~F.col("id").isin(ids)).unionByName(survivor)
    gone = [i for i in ids[1:]]
    rels = store.graph.rels
    rewired = rels.withColumn(
        "src", F.when(F.col("src").isin(gone), F.lit(target)).otherwise(F.col("src"))
    ).withColumn(
        "dst", F.when(F.col("dst").isin(gone), F.lit(target)).otherwise(F.col("dst"))
    )
    store._swap(nodes=new_nodes, rels=rewired)
    return local_df(spark, [(target, len(gone))], "id long, merged long")


def _node_entity_df(spark: SparkSession, store, nid: int) -> DataFrame:
    """One (node, id) row for a stored node id — ``node`` is the engine's
    entity struct (id, labels, stringified properties map), the shape
    APOC's node-yielding procedures return (``YIELD node`` then
    ``node.prop``). One filtered single-node read; control-plane only.

    CONTRACT (documented — ADVICE r12): the carried entity struct keeps
    ONE map column for heterogeneous properties, so map values are
    strings; ``YIELD node RETURN node.v`` therefore returns '3' (text).
    Typed access goes through the store columns the ordinary way:
    ``CALL … YIELD id  MATCH (n) WHERE id(n) = id  RETURN n.v``. This is
    the same in-query carried-struct contract as ``WITH collect(n) …``
    elements (r10)."""
    nodes = store.graph.nodes.where(F.col("id") == int(nid))
    prop_cols = [c for c in nodes.columns if c not in ("id", "labels")]
    props_map = (
        F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c) for c in prop_cols]),
                F.array(*[F.col(c).cast("string") for c in prop_cols]),
            ),
            lambda _, v: v.isNotNull(),
        )
        if prop_cols
        else F.from_json(F.lit("{}"), "map<string,string>")
    )
    return nodes.select(
        F.struct(
            F.col("id"), F.col("labels"), props_map.alias("properties")
        ).alias("node"),
        F.col("id"),
    )


@procedure(
    "apoc.create.node",
    signature="apoc.create.node(labels :: LIST OF STRING, props :: MAP) :: (node :: NODE, id :: INTEGER)",
    description="Create a node with dynamically supplied labels and properties (yielded node carries a stringified properties map; typed reads go through MATCH)",
)
def _apoc_create_node(spark: SparkSession, labels=None, props=None, store=None):
    """apoc.create.node — the dynamic-label escape hatch (CREATE syntax
    needs labels at parse time; this takes them as data). Multi-label:
    created under the first label, then the labels array is extended in
    one map pass."""
    if store is None:
        raise ValueError("apoc.create.node requires a store context")
    labs = [str(x) for x in (labels or [])]
    if not labs:
        raise ValueError("apoc.create.node: at least one label is required")
    nid = store.create_nodes(labs[0], [dict(props or {})])[0]
    if len(labs) > 1:
        nodes = store.graph.nodes
        store._swap(
            nodes=nodes.withColumn(
                "labels",
                F.when(
                    F.col("id") == nid,
                    F.array(*[F.lit(x) for x in labs]),
                ).otherwise(F.col("labels")),
            )
        )
    return _node_entity_df(spark, store, nid)


@procedure(
    "apoc.create.relationship",
    signature="apoc.create.relationship(fromId :: INTEGER, relType :: STRING, props :: MAP, toId :: INTEGER) :: (id :: INTEGER)",
    description="Create a relationship with a dynamically supplied type",
)
def _apoc_create_relationship(
    spark: SparkSession, fromId=None, relType: str = "", props=None, toId=None, store=None
):
    """apoc.create.relationship — dynamic relationship type from data."""
    if store is None:
        raise ValueError("apoc.create.relationship requires a store context")
    if not relType:
        raise ValueError("apoc.create.relationship: relType is required")
    rid = store.create_rels(
        relType, [(int(fromId), int(toId))], [dict(props or {})]
    )[0]
    return local_df(spark, [(rid,)], "id long")


@procedure(
    "apoc.merge.node",
    signature="apoc.merge.node(labels :: LIST OF STRING, identProps :: MAP, onCreateProps :: MAP) :: (node :: NODE, id :: INTEGER)",
    description="MERGE a node by identifying properties with dynamic labels (yielded node carries a stringified properties map; typed reads go through MATCH)",
)
def _apoc_merge_node(
    spark: SparkSession, labels=None, identProps=None, onCreateProps=None, store=None
):
    """apoc.merge.node — MERGE with labels/keys as data; identProps match
    or create, onCreateProps only applied on creation (APOC contract).
    Multi-label: matched/created under the first label, then the labels
    array is extended with the rest in one map pass (same shape as
    apoc.create.node — trailing labels must not be silently dropped)."""
    if store is None:
        raise ValueError("apoc.merge.node requires a store context")
    labs = [str(x) for x in (labels or [])]
    if not labs:
        raise ValueError("apoc.merge.node: at least one label is required")
    if not identProps:
        raise ValueError("apoc.merge.node: identProps are required")
    nid = store.merge_node(labs[0], dict(identProps), dict(onCreateProps or {}))
    extra = [x for x in labs[1:] if x != labs[0]]
    if extra:
        nodes = store.graph.nodes
        store._swap(
            nodes=nodes.withColumn(
                "labels",
                F.when(
                    F.col("id") == nid,
                    F.array_union(F.col("labels"), F.array(*[F.lit(x) for x in extra])),
                ).otherwise(F.col("labels")),
            )
        )
    return _node_entity_df(spark, store, nid)


@procedure(
    "apoc.schema.assert",
    signature="apoc.schema.assert(indexes :: MAP, constraints :: MAP) :: (label :: STRING, key :: STRING, unique :: BOOLEAN, action :: STRING)",
    description="Declaratively assert the schema: create listed indexes/uniqueness constraints, drop unlisted ones",
)
def _apoc_schema_assert(spark: SparkSession, indexes=None, constraints=None, store=None):
    """apoc.schema.assert — idempotent declarative schema: ``indexes`` /
    ``constraints`` map label → property list (one single-property
    index/uniqueness constraint per listed property, the APOC shape).
    Managed entries not listed are DROPPED; VECTOR indexes are outside
    the managed set (they carry trained state a blanket assert must not
    silently destroy). Returns one row per action, KEPT entries included
    — deterministic order (label, key, unique)."""
    if store is None:
        raise ValueError("apoc.schema.assert requires a store context")
    want_idx = {
        (str(lab), str(p)) for lab, props in (indexes or {}).items() for p in props
    }
    want_con = {
        (str(lab), str(p)) for lab, props in (constraints or {}).items() for p in props
    }
    out = []
    for name, idx in list(store.indexes.indexes.items()):
        if idx.index_type == "VECTOR":
            continue
        pair = (idx.label, idx.properties[0])
        if pair in want_idx and len(idx.properties) == 1:
            want_idx.discard(pair)
            out.append((pair[0], pair[1], False, "KEPT"))
        else:
            store.indexes.drop(name)
            out.append((idx.label, idx.properties[0], False, "DROPPED"))
    for name, con in list(store.constraints.constraints.items()):
        pair = (con.label, con.properties[0])
        if pair in want_con and len(con.properties) == 1:
            want_con.discard(pair)
            out.append((pair[0], pair[1], True, "KEPT"))
        else:
            store.constraints.drop(name)
            out.append((con.label, con.properties[0], True, "DROPPED"))
    for lab, p in want_idx:
        store.indexes.create(f"index_{lab}_{p}", lab, [p])
        out.append((lab, p, False, "CREATED"))
    for lab, p in want_con:
        store.constraints.create(f"constraint_{lab}_{p}", lab, [p])
        out.append((lab, p, True, "CREATED"))
    return local_df(spark, 
        sorted(out), "label string, key string, unique boolean, action string"
    )


@procedure(
    "gds.graph.nodeProperties.stream",
    signature=(
        "gds.graph.nodeProperties.stream(graphName :: STRING, "
        "nodeProperties :: LIST) :: (nodeId :: INTEGER, "
        "nodeProperty :: STRING, propertyValue :: FLOAT)"
    ),
    description="Stream mutated/projected node properties from a catalog graph",
)
def _gds_graph_node_props_stream(
    spark: SparkSession, graphName: str = "", nodeProperties=None
) -> DataFrame:
    nodes = _catalog_entry(spark, graphName)[0]
    props = (
        [nodeProperties] if isinstance(nodeProperties, str) else list(nodeProperties or [])
    )
    missing = [p for p in props if p not in nodes.columns]
    if missing:
        raise ValueError(
            f"Node properties {missing} not found in graph '{graphName}'"
        )
    out = None
    for p in props:
        part = nodes.select(
            F.col("id").alias("nodeId"),
            F.lit(p).alias("nodeProperty"),
            F.col(p).cast("double").alias("propertyValue"),
        )
        out = part if out is None else out.unionByName(part)
    if out is None:
        raise ValueError("nodeProperties must name at least one property")
    return out


@procedure(
    "db.schema.nodeTypeProperties",
    signature=(
        "db.schema.nodeTypeProperties() :: (nodeType :: STRING, "
        "nodeLabels :: LIST, propertyName :: STRING, "
        "propertyTypes :: LIST, mandatory :: BOOLEAN)"
    ),
    description="Node property schema: one row per (label, property) pair in use",
)
def _db_schema_node_type_properties(
    spark: SparkSession, graph=None
) -> DataFrame:
    """Derived from the live node frame: a (label, property) pair appears
    when at least one node with the label carries a non-null value; the
    declared Cypher type comes from the column's Spark dtype. One
    explode + one groupBy — no driver-side iteration over rows."""
    empty = (
        "nodeType string, nodeLabels array<string>, propertyName string, "
        "propertyTypes array<string>, mandatory boolean"
    )
    if graph is None:
        return local_df(spark, [], empty)
    nodes = graph.nodes
    prop_cols = [c for c in nodes.columns if c not in ("id", "labels")]
    if not prop_cols:
        return local_df(spark, [], empty)
    _CY = {
        "bigint": "Long", "int": "Long", "smallint": "Long", "tinyint": "Long",
        "double": "Double", "float": "Double", "string": "String",
        "boolean": "Boolean", "date": "Date", "timestamp": "DateTime",
    }
    dts = dict(nodes.dtypes)
    pairs = nodes.select(
        F.explode("labels").alias("lb"),
        *[F.col(c).isNotNull().cast("int").alias(c) for c in prop_cols],
    )
    agg = pairs.groupBy("lb").agg(
        *[F.max(c).alias(c) for c in prop_cols]
    )
    stack = ", ".join(f"'{c}', {c}" for c in prop_cols)
    melted = agg.select(
        "lb",
        F.expr(f"stack({len(prop_cols)}, {stack}) as (propertyName, present)"),
    ).where(F.col("present") == 1)
    type_map = F.create_map(
        *[
            x
            for c in prop_cols
            for x in (
                F.lit(c),
                F.lit(_CY.get(dts.get(c, "").split("(")[0], "Any")),
            )
        ]
    )
    return melted.select(
        F.concat(F.lit(":`"), F.col("lb"), F.lit("`")).alias("nodeType"),
        F.array(F.col("lb")).alias("nodeLabels"),
        "propertyName",
        F.array(F.element_at(type_map, F.col("propertyName"))).alias(
            "propertyTypes"
        ),
        F.lit(False).alias("mandatory"),
    )


@procedure(
    "db.info",
    signature="db.info() :: (id :: STRING, name :: STRING, creationDate :: STRING)",
    description="Information about the current database",
)
def _db_info(spark: SparkSession, session=None) -> DataFrame:
    name = getattr(session, "database", None) or "neo4j"
    return local_df(
        spark, [(name, name, "1970-01-01T00:00:00Z")],
        "id string, name string, creationDate string",
    )


@procedure(
    "db.ping",
    signature="db.ping() :: (success :: BOOLEAN)",
    description="Liveness check",
)
def _db_ping(spark: SparkSession) -> DataFrame:
    return local_df(spark, [(True,)], "success boolean")


@procedure(
    "db.awaitIndexes",
    signature="db.awaitIndexes(timeoutSeconds :: INTEGER) :: ()",
    description="Wait for indexes to come online (indexes here are metadata + dump-time clustering, so this returns immediately)",
)
def _db_await_indexes(spark: SparkSession, timeoutSeconds: int = 300) -> DataFrame:
    return local_df(spark, [], "ok string")


@procedure(
    "db.resampleOutdatedIndexes",
    signature="db.resampleOutdatedIndexes() :: ()",
    description="Resample index statistics (statistics come from parquet row-group metadata here, so this returns immediately)",
)
def _db_resample_indexes(spark: SparkSession) -> DataFrame:
    return local_df(spark, [], "ok string")


@procedure(
    "dbms.listTransactions",
    signature=(
        "dbms.listTransactions() :: (transactionId :: STRING, "
        "username :: STRING, currentQuery :: STRING, status :: STRING, "
        "database :: STRING)"
    ),
    description="Currently executing transactions (one row: this statement — snapshot-isolated reads never block)",
)
def _dbms_list_transactions(spark: SparkSession, session=None) -> DataFrame:
    """One row for the executing statement itself — the engine's frames
    are immutable snapshots, so there is never a blocked/waiting
    transaction to report (the semantics SHOW TRANSACTIONS surfaces)."""
    user = getattr(session, "user", None) or "neo4j"
    db = getattr(session, "database", None) or "neo4j"
    return local_df(
        spark,
        [("transaction-0", user, "SHOW TRANSACTIONS", "Running", db)],
        "transactionId string, username string, currentQuery string, "
        "status string, database string",
    )


@procedure(
    "dbms.info",
    signature="dbms.info() :: (id :: STRING, name :: STRING, creationDate :: STRING)",
    description="Information about the DBMS",
)
def _dbms_info(spark: SparkSession) -> DataFrame:
    from .. import __version__

    return local_df(
        spark, [("DBMS", f"docker-neo4j-spark/{__version__}", "1970-01-01T00:00:00Z")],
        "id string, name string, creationDate string",
    )


@procedure(
    "apoc.do.when",
    signature=(
        "apoc.do.when(condition :: BOOLEAN, ifQuery :: STRING, "
        "elseQuery :: STRING, params :: MAP) :: (value :: MAP)"
    ),
    description="Run ifQuery when the condition holds, elseQuery otherwise; yield its rows as `value` maps",
)
def _apoc_do_when(
    spark: SparkSession, condition=None, ifQuery: str = "",
    elseQuery: str = "", params: dict | None = None, session=None,
) -> DataFrame:
    """apoc.do.when — conditional write/read execution. The chosen inner
    statement runs once through the session; its rows yield as `value`
    structs (the APOC wire shape `value.x`)."""
    if session is None:
        raise ValueError("apoc.do.when requires a session context")
    q = ifQuery if condition else elseQuery
    if not q:
        return local_df(spark, [], "value struct<_empty: string>")
    out = session.run(q, params or None)
    return out.select(F.struct(*out.columns).alias("value"))


@procedure(
    "apoc.case",
    signature=(
        "apoc.case(conditionals :: LIST, elseQuery :: STRING, "
        "params :: MAP) :: (value :: MAP)"
    ),
    description="Run the query of the first true condition in [cond1, query1, cond2, query2, ...]",
)
def _apoc_case(
    spark: SparkSession, conditionals=None, elseQuery: str = "",
    params: dict | None = None, session=None,
) -> DataFrame:
    if session is None:
        raise ValueError("apoc.case requires a session context")
    pairs = list(conditionals or [])
    if len(pairs) % 2:
        raise ValueError(
            "apoc.case: conditionals must alternate [condition, query, …]"
        )
    chosen = elseQuery
    for i in range(0, len(pairs), 2):
        if pairs[i]:
            chosen = pairs[i + 1]
            break
    if not chosen:
        return local_df(spark, [], "value struct<_empty: string>")
    out = session.run(chosen, params or None)
    return out.select(F.struct(*out.columns).alias("value"))


@procedure(
    "db.indexes",
    signature=(
        "db.indexes() :: (name :: STRING, state :: STRING, type :: STRING, "
        "labelsOrTypes :: LIST, properties :: LIST)"
    ),
    description="Legacy Neo4j 4 index listing (SHOW INDEXES is the 5.x surface)",
)
def _db_indexes(spark: SparkSession, store=None) -> DataFrame:
    empty = (
        "name string, state string, type string, "
        "labelsOrTypes array<string>, properties array<string>"
    )
    if store is None:
        return local_df(spark, [], empty)
    rows = [
        (i.name, i.state, i.index_type, [i.label], list(i.properties))
        for i in store.indexes.indexes.values()
    ]
    return local_df(spark, sorted(rows), empty)


@procedure(
    "apoc.export.cypher.all",
    signature=(
        "apoc.export.cypher.all(file :: STRING, config :: MAP) :: "
        "(file :: STRING, nodes :: INTEGER, relationships :: INTEGER, "
        "properties :: INTEGER)"
    ),
    description="Export the whole graph as runnable Cypher CREATE statements",
)
def _apoc_export_cypher_all(
    spark: SparkSession, file: str = "", config=None, graph=None
) -> DataFrame:
    """``CALL apoc.export.cypher.all('/path', {})`` — the apoc plugin's
    statement export. Every line is built as ONE JVM string expression
    over the node/rel frames and written through the distributed text
    sink (part files; no driver funnel). Node statements use id-tagged
    variables so the rel statements can anchor by property match on the
    engine id — the same re-importable shape apoc emits."""
    schema = "file string, nodes bigint, relationships bigint, properties bigint"
    if graph is None or not file:
        return local_df(spark, [], schema)
    nodes, rels = graph.nodes, graph.rels

    def _props_expr(df: DataFrame, fixed: tuple) -> F.Column:
        parts = []
        for c in df.columns:
            if c in fixed:
                continue
            val = F.col(c)
            dt = dict(df.dtypes)[c]
            if dt == "string":
                rendered = F.concat(
                    F.lit("'"), F.regexp_replace(val, "'", "\\\\'"), F.lit("'")
                )
            elif dt.startswith("array"):
                rendered = F.to_json(val)
            else:
                rendered = val.cast("string")
            from ..storage.store import unesc_prop as _unesc_p

            parts.append(
                F.when(
                    val.isNotNull(),
                    F.concat(F.lit(f"`{_unesc_p(c)}`: "), rendered),
                )
            )
        if not parts:
            return F.lit("")
        joined = F.array_join(
            F.filter(F.array(*parts), lambda x: x.isNotNull()), ", "
        )
        return joined

    node_props = _props_expr(nodes, ("id", "labels"))
    node_lines = nodes.select(
        F.concat(
            F.lit("CREATE (:"),
            F.array_join(F.col("labels"), ":"),
            F.lit(" {`_id`: "),
            F.col("id").cast("string"),
            F.when(node_props != "", F.concat(F.lit(", "), node_props)).otherwise(
                F.lit("")
            ),
            F.lit("});"),
        ).alias("value")
    )
    rel_props = _props_expr(rels, ("id", "src", "dst", "type"))
    rel_lines = rels.select(
        F.concat(
            F.lit("MATCH (a {`_id`: "),
            F.col("src").cast("string"),
            F.lit("}), (b {`_id`: "),
            F.col("dst").cast("string"),
            F.lit("}) CREATE (a)-[:"),
            F.col("type"),
            F.when(
                rel_props != "", F.concat(F.lit(" {"), rel_props, F.lit("}"))
            ).otherwise(F.lit("")),
            F.lit("]->(b);"),
        ).alias("value")
    )
    node_lines.unionByName(rel_lines).write.mode("overwrite").text(file)
    n_nodes, n_rels = nodes.count(), rels.count()
    n_props = len(nodes.columns) - 2 + len(rels.columns) - 4
    return local_df(spark, [(file, n_nodes, n_rels, n_props)], schema)
