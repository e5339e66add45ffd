"""Benchmark harness — the driver's per-round perf gate (BENCH_r{N}.json).

Runs the headline query set at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints exactly ONE
JSON line::

    {"metric": "headline_total", "value": <sum-sec>, "unit": "sec",
     "queries": {"q1": sec, ...}, "sf": 0.1}

Each query is materialized through the ``noop`` sink — full computation, no
driver-side collect, so the timing is executor work, not result transfer
(SURVEY.md §6: the reference publishes no numbers; this run IS the baseline).

The harness steps are functions that ``scripts/prof.py`` and
``scripts/stress_heavy.py`` import: ``settings``, ``session``, ``warm``,
``clear`` and ``timed`` (one clear + build + noop write).
"""

from __future__ import annotations

import json
import os
import sys
import time


HEADLINE = [
    # relational / graph core — one per operator family (catalog names)
    "agg_q1_pricing_summary",
    "expand_two_hop",
    "expand_three_hop",
    "pattern_semi_join",
    "optional_match_count",
    "topk_per_group",
    "var_length_reach",
    "unwind_words_topk",
    # scalar-function surface
    "fn_string_suite",
    "fn_temporal_accessors",
    # gds
    "gds_pagerank",
    "gds_wcc_supply_zones",
    "gds_bfs_from_customer",
    # llm-pipeline ops
    "llm_exact_dedup",
    "llm_minhash_neardup",
    "llm_ann_topk",
    "llm_quality_score",
    # streaming (batch-equivalent windowed aggregate)
    "stream_windowed_counts_batch",
    # r7 breadth (VERDICT): one representative per newer family so perf
    # regressions in that code are visible round-over-round
    "gds_betweenness_cosupply",   # sampled Brandes BSP
    "llm_bpe_train",              # corpus-collapse + merge loop
    "stream_attribution_join_batch",  # stream-stream interval join (batch twin)
    # r9 breadth (VERDICT r8 item 8): one representative per r8-era
    # family so bench coverage tracks the catalog — first-run anchors
    # recorded in BASELINE.md
    "gds_ktruss_copart",          # wedge-join truss peeling
    "proc_export_graphml_lines",  # ordered single-document graph export
    "llm_temperature_resample",   # softmax-weighted deterministic resample
    # r10 breadth: the r9-era family representative (min-path BSP DFS;
    # final rank now range-partitioned via curation.global_rank) —
    # first-run anchor in BASELINE.md
    "gds_dfs_preorder",
    # r11 breadth: the two families this round changed most — the
    # interactive write tail (MATCH…MERGE, now the whole-pattern
    # MERGE over the binding) and entity-path materialization. First-run anchors
    # (solo, min-of-2) in BASELINE.md.
    "cypher_match_merge_rel",
    "cypher_path_entities",
    # r12 breadth: the GDS CALL-surface write-back path (project → wcc →
    # set_props_from_frame over the full store → MATCH readback) — the
    # one GDS shape not previously benched. First-run anchor (solo,
    # min-of-2) in BASELINE.md.
    "proc_gds_wcc_write",
    # r13 breadth (VERDICT r12 task 7): the r12-era SOURCE family —
    # LOAD CSV statement (distributed spark.read.csv + set-based write
    # tail + MATCH readback). First-run anchor (solo, min-of-2) in
    # BASELINE.md.
    "cypher_load_csv_statement",
    # r14 breadth (VERDICT r13 task 7): the r13-era reserved-prop WRITE
    # family — bulk-import with a user property named `id` (escaped
    # store column), MERGE-by-id upsert, readback through the escape
    # mapping. First-run anchor (solo, min-of-2) in BASELINE.md.
    "cypher_bulk_import_id_prop",
]


# Timing-key → catalog-row substitutions (empty by design). The
# gds_pagerank_serving row (maxIterations=20, tolerance=1e-7, the gds
# defaults) was benchmarked as a candidate alias and measured SLOWER than
# fixed-15: dangling-mass redistribution strongly connects this graph, so
# the residual decays only ×0.85/round — delta is still ~6e3 after 20
# rounds vs a 1.9e-2 exit threshold. Early exit never fires; the knob only
# buys +5 rounds +20 delta jobs. The bench therefore times the fixed-15
# row that the correctness oracle also pins.
BENCH_ALIASES: dict[str, str] = {}


def settings() -> tuple[str, str]:
    """The bench's two settings: ``$SPARK_GRAFT_SF_DIR`` and ``$SPARK_GRAFT_CPUS``."""
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    return sf_dir, cpus


def session():
    """The bench session: ``local[$SPARK_GRAFT_CPUS]``, shuffle width to match."""
    from docker_neo4j_spark import get_spark

    cpus = settings()[1]
    return get_spark(
        app_name="bench",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(cpus), 8))},
    )


def warm(spark, sf: str) -> None:
    """Warm the session before timing: JVM/codegen warmup + parquet footer
    listing + graph-catalog construction are one-time startup costs, not
    query costs (they'd otherwise all land on whichever query runs first).
    build_graph is memoized per session, so constructing it here is exactly
    the engine-startup work a server does before serving."""
    from docker_neo4j_spark.sources.tpch import build_graph, load_tables

    for df in load_tables(spark, sf).values():
        df.limit(1).write.mode("overwrite").format("noop").save()
    build_graph(spark, sf)


def clear(spark) -> None:
    """Isolate queries from each other: cached frames and localCheckpoint
    RDDs left behind by a previous query otherwise pressure executor memory
    and skew later timings (measured ~8 s on gds_pagerank). clearCache()
    misses localCheckpoint blocks — they register as persistent RDDs, not
    catalog-cached frames — so drop those too."""
    spark.catalog.clearCache()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist()


def timed(spark, query, sf: str) -> tuple[float, float]:
    """One bench step: clear, then build ``query(spark, sf)`` and write it
    through the ``noop`` sink. Returns (build seconds, build + write seconds)."""
    clear(spark)
    t0 = time.time()
    df = query(spark, sf)
    t1 = time.time()
    df.write.mode("overwrite").format("noop").save()
    return t1 - t0, time.time() - t0


def main() -> int:
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import __spark_entry__ as e

    sf = settings()[0]
    spark = session()
    qs = e.queries()
    names = [n for n in HEADLINE if n in qs]
    warm(spark, sf)

    # Two timed passes per query, report the per-query MIN. The host is a
    # shared VM whose vCPUs are intermittently throttled from outside
    # (identical code swung 58.8↔67.0 s across driver rounds and 62↔169 s
    # across local runs with zero repo changes); min-of-2 reports
    # steady-state engine cost instead of whichever pass caught a
    # contention burst. Same data, same plans — this measures the engine,
    # not the neighbors.
    timings: dict[str, float] = {}
    for _pass in range(2):
        for name in names:
            t = round(timed(spark, qs[BENCH_ALIASES.get(name, name)], sf)[1], 3)
            timings[name] = min(timings.get(name, t), t)

    sf_num = float(sf.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf else None
    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_num,
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
