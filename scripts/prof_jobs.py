"""Per-job wall-time profile for one headline query (r15 — guide §1).

Runs the query twice (cold+warm) and dumps, for the WARM run, every Spark
job's duration and task/stage counts from the status tracker in submission
order — sequential BSP kernels map jobs 1:1 onto supersteps, so this is
the per-level time split explain() cannot show.

Usage: python scripts/prof_jobs.py <query> [sf_dir]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python scripts/prof_jobs.py <query> [sf_dir]", file=sys.stderr)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as e
    from docker_neo4j_spark import get_spark

    spark = get_spark(
        app_name="prof_jobs",
        master=f"local[{cpus}]",
        extra_conf={"spark.sql.shuffle.partitions": str(max(int(cpus), 8))},
    )
    sc = spark.sparkContext
    qs = e.queries()
    from docker_neo4j_spark.sources.tpch import build_graph, load_tables

    for df in load_tables(spark, sf_dir).values():
        df.limit(1).write.mode("overwrite").format("noop").save()
    build_graph(spark, sf_dir)

    def run(tag: str):
        spark.catalog.clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        sc.setJobGroup(tag, tag)
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        t1 = time.time()
        df.write.mode("overwrite").format("noop").save()
        t2 = time.time()
        sc.setJobGroup("", "")
        return t1 - t0, t2 - t1

    b1, r1 = run("p1")
    b2, r2 = run("p2")
    print(f"{name}: build1={b1:.2f} run1={r1:.2f} build2={b2:.2f} run2={r2:.2f}")

    jobs = sorted(sc.statusTracker().getJobIdsForGroup("p2"))
    total = 0.0
    jts = sc._jsc.sc().statusTracker()
    for j in jobs:
        ji = jts.getJobInfo(j)
        if ji.isEmpty():
            continue
        ji = ji.get()
        t_min, t_max, n_tasks, nst = None, None, 0, 0
        for s in ji.stageIds():
            si = jts.getStageInfo(s)
            if si.isEmpty():
                continue
            si = si.get()
            sub = si.submissionTime()
            comp = si.completionTime()
            if sub <= 0:
                continue
            nst += 1
            n_tasks += si.numTasks()
            t_min = sub if t_min is None else min(t_min, sub)
            if comp > 0:
                t_max = comp if t_max is None else max(t_max, comp)
        if t_min is None or t_max is None:
            continue
        dur = (t_max - t_min) / 1000.0
        total += dur
        print(f"  job {j:4d}  {dur:7.3f}s  stages={nst:2d} tasks={n_tasks:4d}")
    print(f"  sum of job spans: {total:.2f}s over {len(jobs)} jobs")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
