"""Deterministic codegen-compilation counter (r14 fifth continuation).

Runs headline queries exactly as bench.py does (noop sink, cache clear
between queries) and prints, per pass, the number of Janino compilations
and generated classes each query triggered (CodegenMetrics deltas). Wall
clock on this host swings 2x with external throttle; compile counts do
not — this is the counter that exposed the 100-entry generated-class
cache thrash (every bench pass re-compiled ~identical classes) and
verified the session-sized cache fixes it (pass 2 = 0 compiles on 29 of
30 headline queries; cypher_match_merge_rel legitimately varies with
store state).

Usage: python scripts/codegen_count.py q1,q2,... [passes]
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python scripts/codegen_count.py q1,q2,... [passes]", file=sys.stderr)
        return 2
    names = sys.argv[1].split(",")
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as e
    from docker_neo4j_spark import get_spark

    spark = get_spark(
        app_name="codegen-count",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(cpus), 8))},
    )
    print("cache.maxEntries =", spark.conf.get("spark.sql.codegen.cache.maxEntries"))
    qs = e.queries()
    from docker_neo4j_spark.sources.tpch import build_graph, load_tables

    for df in load_tables(spark, sf_dir).values():
        df.limit(1).write.mode("overwrite").format("noop").save()
    build_graph(spark, sf_dir)

    cg = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics

    def counts() -> tuple[int, int]:
        return (
            cg.METRIC_COMPILATION_TIME().getCount(),
            cg.METRIC_GENERATED_CLASS_BYTECODE_SIZE().getCount(),
        )

    for p in range(passes):
        for name in names:
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            c0 = counts()
            t0 = time.time()
            qs[name](spark, sf_dir).write.mode("overwrite").format("noop").save()
            t = time.time() - t0
            c1 = counts()
            print(
                json.dumps(
                    {
                        "pass": p,
                        "q": name,
                        "sec": round(t, 2),
                        "compiles": c1[0] - c0[0],
                        "classes": c1[1] - c0[1],
                    }
                )
            )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
