"""Stage-metric dump for one query via the UI REST API (r15 — guide §7.1).

Runs the query cold+warm like bench.py and prints, for the WARM pass,
every completed stage's wall duration, executor run/cpu time, and shuffle
bytes — the executor-compute vs overhead split the job profile can't show.

Usage: python scripts/prof_stages.py <query> [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    if len(sys.argv) < 2:
        print("usage: python scripts/prof_stages.py <query> [sf_dir]", file=sys.stderr)
        return 2
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")

    import __spark_entry__ as e
    from docker_neo4j_spark import get_spark

    spark = get_spark(
        app_name="prof_stages",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(int(cpus), 8)),
            "spark.ui.enabled": "true",
        },
    )
    sc = spark.sparkContext
    qs = e.queries()
    from docker_neo4j_spark.sources.tpch import build_graph, load_tables

    for df in load_tables(spark, sf_dir).values():
        df.limit(1).write.mode("overwrite").format("noop").save()
    build_graph(spark, sf_dir)

    def run():
        spark.catalog.clearCache()
        for rdd in sc._jsc.getPersistentRDDs().values():
            rdd.unpersist()
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        t1 = time.time()
        df.write.mode("overwrite").format("noop").save()
        return t1 - t0, time.time() - t1

    run()
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    with urllib.request.urlopen(f"{base}/stages?status=complete") as r:
        before = {s["stageId"] for s in json.load(r)}
    b, w = run()
    print(f"{name}: warm build={b:.2f} write={w:.2f}")
    with urllib.request.urlopen(f"{base}/stages?status=complete") as r:
        stages = json.load(r)
    stages = [s for s in stages if s["stageId"] not in before]
    stages.sort(key=lambda s: s["stageId"])
    tot_dur = tot_run = tot_cpu = 0.0
    print(
        f"{'stage':>5s} {'dur_s':>7s} {'run_s':>7s} {'cpu_s':>7s} {'tasks':>5s}"
        f" {'shW_MB':>7s} {'shR_MB':>7s}  name"
    )
    for s in stages:
        sub = s.get("firstTaskLaunchedTime") or s.get("submissionTime")
        comp = s.get("completionTime")
        from datetime import datetime

        def ts(x):
            return datetime.strptime(x[:23], "%Y-%m-%dT%H:%M:%S.%f").timestamp()

        dur = ts(comp) - ts(sub) if sub and comp else 0.0
        runt = s["executorRunTime"] / 1000.0
        cpu = s["executorCpuTime"] / 1e9
        tot_dur += dur
        tot_run += runt
        tot_cpu += cpu
        print(
            f"{s['stageId']:5d} {dur:7.2f} {runt:7.2f} {cpu:7.2f}"
            f" {s['numCompleteTasks']:5d}"
            f" {s['shuffleWriteBytes']/1e6:7.1f} {s['shuffleReadBytes']/1e6:7.1f}"
            f"  {s['name'][:60]}"
        )
    print(f"TOTAL  dur={tot_dur:.2f} run={tot_run:.2f} cpu={tot_cpu:.2f} over {len(stages)} stages")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
