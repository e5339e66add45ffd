"""Instrumented betweenness run (r15 — guide §1): times every eager
action inside the kernel (checkpoint materializations, emptiness probes,
fold jobs) by monkeypatching DataFrame.localCheckpoint and
DataFrame.isEmpty, so the 24-29 s of in-build BSP work splits into named
phases. Each action is timed once: every kernel checkpoint goes through
DataFrame.localCheckpoint, so no event nests inside another and the
driver/plan residue is build time minus the sum of the events.

Usage: python scripts/prof_betweenness.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as e
    from docker_neo4j_spark import get_spark

    spark = get_spark(
        app_name="prof_btw",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(cpus), 8))},
    )
    qs = e.queries()
    from docker_neo4j_spark.sources.tpch import build_graph, load_tables

    for df in load_tables(spark, sf_dir).values():
        df.limit(1).write.mode("overwrite").format("noop").save()
    build_graph(spark, sf_dir)

    events = []
    # patch the concrete (classic) class: it overrides both methods, so the
    # pyspark.sql.DataFrame base would never see a call
    DataFrame = type(spark.range(0))

    orig_empty = DataFrame.isEmpty

    def timed_empty(self):
        t0 = time.time()
        out = orig_empty(self)
        events.append(("isEmpty", time.time() - t0))
        return out

    orig_lc = DataFrame.localCheckpoint

    def timed_lc(self, eager=True):
        t0 = time.time()
        out = orig_lc(self, eager=eager)
        events.append((f"localCheckpoint(eager={eager})", time.time() - t0))
        return out

    DataFrame.isEmpty = timed_empty
    DataFrame.localCheckpoint = timed_lc
    try:
        for p in range(2):
            events.clear()
            spark.catalog.clearCache()
            for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                rdd.unpersist()
            t0 = time.time()
            df = qs["gds_betweenness_cosupply"](spark, sf_dir)
            t1 = time.time()
            df.write.mode("overwrite").format("noop").save()
            t2 = time.time()
            print(f"pass {p}: build={t1-t0:.2f} write={t2-t1:.2f}")
            for i, (tag, dt) in enumerate(events):
                print(f"  {i:3d} {tag:28s} {dt:7.3f}s")
            acc = t1 - t0 - sum(dt for _, dt in events)
            print(f"  (driver/plan residue inside build: {acc:.2f}s)")
    finally:
        DataFrame.isEmpty = orig_empty
        DataFrame.localCheckpoint = orig_lc
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
