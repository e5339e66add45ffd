"""Scale-cliff stress gate: run the heavy NON-headline catalog queries at
a larger scale factor than the correctness gate uses (default sf0.1, 10×
the driver's sf0.01) and fail loudly on any error.

bench.py covers the headline set; this covers the long tail that only
ever runs at sf0.01 otherwise — path enumeration, pair generators,
self-joins, iterative community detection — exactly the shapes that can
hide a combinatorial cliff.

Usage: python scripts/stress_heavy.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

HEAVY = [
    "cartesian_product",
    "rel_uniqueness_pairs",
    "gds_all_shortest_paths_to_regions",
    "gds_node_similarity_suppliers",
    "gds_triangle_count_copart",
    "gds_local_clustering",
    "llm_ngram_jaccard_block",
    "llm_embedding_neardup",
    "llm_cosine_topk",
    "gds_wcc_star_supply_zones",
    "llm_ivf_trained",
    "gds_louvain",
    "gds_personalized_pagerank",
    "gds_pagerank_weighted",
    "llm_simhash_neardup",
    "llm_token_counts",
    "stream_sessionize_batch",
    "cypher_session_smoke",
    "write_create_match_return",
    "llm_neardup_clusters",
    "llm_pack_sequences",
    "cypher_optional_chain",
    "write_create_from_match_batch",
    "proc_vector_query_nodes",
    # round-6 additions: new GDS iteratives + the LLM/stream rows with
    # join or window shapes worth a 10× cliff check
    "gds_article_rank",
    "gds_eigenvector",
    "gds_kcore",
    "gds_betweenness_cosupply",
    "llm_quality_deciles",
    "llm_chunk_documents",
    "llm_unigram_logprob",
    "stream_attribution_join_batch",
    "fn_apoc_coll_suite",
    "fn_gds_similarity_suite",
    # this round's additions with iterative / join-heavy shapes
    "gds_hits",
    "gds_topological_layers",
    "gds_scc_regions",
    "llm_tfidf_topterms",
    "stream_attribution_left_batch",
    # late-round-6 additions: new iterative / pair-generating shapes
    "gds_kmeans",
    "gds_node2vec_walk",
    "gds_yens_ksp",
    "gds_leiden",
    "gds_link_prediction",
    "gds_label_propagation_weighted",
    "llm_semantic_dedup",
    "llm_exact_substring_pairs",
    "llm_classifier_filter",
    "events_anomaly_3sigma",
    "events_ohlc_rollup",
    "gds_sllpa",
    "gds_k1coloring",
    "gds_hashgnn",
    "gds_node_similarity_metrics",
    "gds_collapse_path",
    "gds_influence_celf",
    "cypher_path_binding",
    "stream_sliding_windows_batch",
    # round-7 additions
    "rdf_import_triples",
    "llm_bpe_train",
    "llm_bpe_encode",
    "llm_leakage_free_split",
    "llm_bm25_search",
    "llm_decontaminate",
    "gds_random_walk",
    # r8: synthetic hub-skew gate (not a catalog row) — see _SYNTHETIC
    "hub_star_betweenness",
    # r8 additions with join/explode shapes worth the 10× cliff check
    "llm_bigram_lm",
    "stream_static_enrich_batch",
    "graphql_nested_two_levels",
    "rdf_export_roundtrip",
    "llm_simhash_neardup",
    "gds_pagerank_serving",
    # late-r8 additions: pair generators, BSP path algorithms, BM25 and
    # bigram-HOF suites — the new shapes worth the 10× cliff check
    "llm_ngram_jaccard_pairs",
    "llm_gopher_rules",
    "gds_bellman_ford_negative",
    "gds_dag_longest_path",
    "proc_fulltext_query_nodes",
    "fn_apoc_text_fuzzy_suite",
    "llm_ann_topk",
    # final-r8 additions: level-sweep biconnectivity, Voronoi+MST Steiner,
    # A*, wedge listing / k-truss peel, RWR walks, sketch probe, prefix
    # sums, full-outer interval join — the shapes new this round
    "gds_articulation_points",
    "gds_bridges",
    "gds_steiner_tree",
    "gds_astar_path",
    "gds_triangle_listing",
    "gds_ktruss_copart",
    "gds_rwr_sample",
    "events_countmin_frequencies",
    "llm_token_budget_selection",
    "llm_temperature_resample",
    "stream_attribution_full_batch",
    "fn_apoc_agg_items_suite",
    # r9: synthetic driver-memory gate for periodic.iterate (see _SYNTHETIC)
    "periodic_iterate_bulk",
    # r9 additions: path-array BSP + collect-subquery join shapes
    "gds_dfs_preorder",
    "cypher_collect_subquery",
    "cypher_hostile_expression",
    # r10 additions: entity-struct projection over a join (per-row map
    # build) and entity grouping + id-sorted entity collect
    "cypher_return_entity",
    "cypher_collect_entities",
    "cypher_stdev_percentile",
    "cypher_call_subquery_correlated",
    # r11 additions: path-entity materialization (posexplode + regroup +
    # consecutive-pair rel join), MERGE write tails (left-anti batches),
    # whole-pattern grow, write-then-continue stage over a write overlay
    "cypher_path_entities",
    "cypher_match_merge_rel",
    "cypher_merge_grow_pattern",
    "cypher_set_with_continue",
    # r12 additions: SF-scaled shapes from this round — bound-endpoint
    # shortestPath (BSP over distinct endpoint sets), EXISTS{} RETURN
    # rewrite (per-anchor aggregate + left join over supplier), GDS
    # orientation projection + dijkstra over the undirected graph
    "cypher_shortest_path_bound",
    "cypher_exists_return",
    "proc_gds_undirected_degree",
    "proc_gds_dijkstra_stream",
    # late-r12 additions: label-expression full scans, inline-WHERE QPP
    # join, GDS scc/closeness/asNode CALL streams, startNode/endNode
    # endpoint joins, the canonical periodic.iterate (id-IN batches)
    "cypher_label_expressions",
    "cypher_inline_where_qpp",
    "proc_gds_scc_stream",
    "proc_gds_closeness_stream",
    "proc_gds_asnode",
    "cypher_start_end_node",
    "proc_periodic_iterate_canonical",
    # late-r12 session 3: arrows/pipelines/grouping scale with the graph;
    # the fixed-size write/GDS rows stress the per-statement machinery
    "cypher_anon_arrows",
    "cypher_leading_with",
    "cypher_unwind_match_pipeline",
    "cypher_count_expr_group",
    "cypher_entity_subscript",
    "proc_gds_dijkstra_weighted",
    "proc_gds_knn_stream",
    "cypher_counter_set",
]


def _hub_star_betweenness(spark):
    """Hub-skew gate for array-state betweenness (gds.py arr_sum): a
    100k-spoke star concentrates deg(hub)×|S| array elements in ONE
    aggregation buffer at the hub. r8 measurement: 18.5 s at 100k spokes,
    57.3 s at 500k (linear in degree, no superlinear cliff) — the
    single-buffer design holds; re-run this gate after any arr_sum
    change. Verifies the exact closed form bc(hub) = |S|·(N-1)."""
    from pyspark.sql import functions as F

    from docker_neo4j_spark.operators import gds

    n, s = 100_000, 200
    spokes = spark.range(1, n + 1).select((F.col("id") + 10).alias("s"))
    edges = spokes.select(F.col("s").alias("src"), F.lit(1).cast("long").alias("dst"))
    sources = spokes.select(F.col("s").alias("id")).orderBy("id").limit(s)
    bc = gds.betweenness(edges, sources, max_depth=4, undirected=True)
    hub = bc.where(F.col("id") == 1).collect()
    assert hub and hub[0]["bc"] == float(s * (n - 1)), hub


def _periodic_iterate_bulk(spark):
    """Driver-memory gate for apoc.periodic.iterate (r9: lazy islice over
    toLocalIterator replaced a full list materialization): a 1.2M-row
    outer query batched at 200k must hold only one batch of dicts on the
    driver at a time. Verifies batch accounting and the MERGE-deduped
    write effect; a regression back to list(outer) would show as an RSS
    spike ~30× the batch footprint."""
    from docker_neo4j_spark.cypher.session import Session

    s = Session(spark)
    out = s.run(
        "CALL apoc.periodic.iterate("
        "'UNWIND range(1, 1200000) AS x RETURN x AS k, x % 97 AS g', "
        "'UNWIND $rows AS r MERGE (t:bulk {g: r.g})', "
        "{batchSize: 200000})"
    ).first()
    assert out["batches"] == 6, out
    assert out["total"] == 1200000, out
    assert out["committedOperations"] == 1200000, out
    assert out["failedBatches"] == 0, out
    n = s.run("MATCH (t:bulk) RETURN count(*) AS n").first()["n"]
    assert n == 97, n


_SYNTHETIC = {
    "hub_star_betweenness": _hub_star_betweenness,
    "periodic_iterate_bulk": _periodic_iterate_bulk,
}


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    names = sys.argv[2:] or HEAVY

    import bench
    from docker_neo4j_spark import get_spark
    from docker_neo4j_spark.catalog import QUERIES, load_all

    load_all()
    spark = get_spark(app_name="stress")
    bench.warm(spark, sf_dir)

    failures = 0
    for name in names:
        if name not in QUERIES and name not in _SYNTHETIC:
            print(f"SKIP  {name}: not registered")
            continue
        # clear between queries, so a long stress sequence measures
        # per-query behaviour, not cumulative leakage
        bench.clear(spark)
        t0 = time.time()
        try:
            if name in _SYNTHETIC:
                _SYNTHETIC[name](spark)
            else:
                QUERIES[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            print(f"OK    {name}: {time.time() - t0:.1f}s")
        except Exception as ex:  # noqa: BLE001 — report-and-continue gate
            failures += 1
            print(f"FAIL  {name}: {type(ex).__name__}: {str(ex)[:160]}")
    print(f"\n{len(names) - failures} ok, {failures} failed / {len(names)}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
