"""Interleaved-A/B helper: time a subset of headline queries in ONE fresh
session, exactly as bench.py does (noop sink, cache clear between queries),
printing one JSON line. Usage:

    python scripts/minibench.py q1,q2,... [passes]

Runs from whatever repo dir it sits in (sys.path[0] = script dir's parent),
so the same file dropped into a worktree times THAT tree's code.
"""

from __future__ import annotations

import json
import os
import sys
import time


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python scripts/minibench.py q1,q2,... [passes]", file=sys.stderr)
        return 2
    names = sys.argv[1].split(",")
    passes = int(sys.argv[2]) if len(sys.argv) > 2 else 1
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as e
    from docker_neo4j_spark import get_spark

    spark = get_spark(
        app_name="minibench",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(cpus), 8))},
    )
    qs = e.queries()
    from docker_neo4j_spark.sources.tpch import build_graph, load_tables

    for df in load_tables(spark, sf_dir).values():
        df.limit(1).write.mode("overwrite").format("noop").save()
    build_graph(spark, sf_dir)

    timings: dict[str, float] = {}
    for _p in range(passes):
        for name in names:
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            spark.sparkContext.setJobDescription(f"minibench:{name}")
            t0 = time.time()
            df = qs[name](spark, sf_dir)
            df.write.mode("overwrite").format("noop").save()
            t = round(time.time() - t0, 3)
            timings.setdefault(name, []).append(t)
    print(json.dumps({"queries": timings, "repo": root}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
