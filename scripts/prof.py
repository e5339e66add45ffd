"""One profiling harness on bench.py's session, warm-up, clear and timed
steps: every subcommand starts ``local[$SPARK_GRAFT_CPUS]`` at
``$SPARK_GRAFT_SF_DIR``, warms it as bench.py does, and runs each query as
one bench step (clear, build, ``noop`` write). Counters come from
``measure``.

usage: python scripts/prof.py [--repo TREE] COMMAND ARGS

  time Q1,Q2 [passes]   seconds per pass (default 1) and the last pass's
                        jobs/stages/tasks per query, as one JSON line
  layers [Q1,Q2]        per query: build, run1 and run2 (the writes of
                        two passes), pass-1 jobs/stages/tasks, executor
                        run/CPU s, shuffle MB, pass-1 and pass-2 codegen
                        compiles and RDDs left pinned (default: bench.HEADLINE)
  jobs Q                Q's Spark jobs in the warm pass, in submission order
  stages Q              Q's stages in the warm pass: duration, executor
                        run/CPU s, tasks, shuffle write/read MB
  events Q              every localCheckpoint and isEmpty call inside Q's
                        build, timed, in each of two passes
  plans TAG [Q1,Q2]     .explain("formatted") of each query to
                        plans/TAG/<query>.txt (default: bench.HEADLINE),
                        normalised so two runs of one tree diff empty
  ab TREE_A TREE_B Q1,Q2 [runs]
                        `time Q1,Q2 2` once per tree and run (default 3
                        runs), each in its own process, alternating which
                        tree goes first; prints per-query median, quartiles
                        and wins of the min-of-2 seconds, each side's
                        jobs/stages/tasks and its runs

--repo TREE imports the engine (``docker_neo4j_spark``, ``__spark_entry__``)
from TREE instead of this checkout; the harness is always this checkout's,
so TREE may predate it.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
import bench  # noqa: E402  (the harness always comes from this checkout)

sys.path.remove(ROOT)


def _compiles(sc) -> int:
    return sc._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()


def _stage(store, sid: int) -> dict | None:
    """A stage's last attempt in the status store; None if it was skipped."""
    sd = store.lastStageAttempt(sid)
    if sd.status().toString() == "SKIPPED":
        return None
    submitted, launched, done = sd.submissionTime(), sd.firstTaskLaunchedTime(), sd.completionTime()
    ms = lambda opt: opt.get().getTime() if opt.isDefined() else 0  # noqa: E731
    return {"id": sid, "name": sd.name(), "tasks": sd.numCompleteTasks(),
            "submitted": ms(submitted), "launched": ms(launched) or ms(submitted), "done": ms(done),
            "run_ms": sd.executorRunTime(), "cpu_ms": sd.executorCpuTime() / 1e6,
            "shuffle_read": sd.shuffleReadBytes(), "shuffle_write": sd.shuffleWriteBytes()}


@contextlib.contextmanager
def measure(spark, tag: str):
    """Run the block under Spark job group ``tag`` and fill the yielded dict
    with what it did: ``job_list`` (each job's id and the stages that ran),
    the ``jobs``, ``stages``, ``tasks``, ``run_ms``, ``cpu_ms`` and
    ``shuffle_bytes`` totals, the CodegenMetrics ``compiles`` delta and the
    persistent RDDs ``pinned`` afterwards. Every counter is read before the
    block starts or after it ends, so a time taken inside the block never
    includes the reads."""
    sc = spark.sparkContext
    m: dict = {}
    cg0 = _compiles(sc)
    sc.setJobGroup(tag, tag)
    try:
        yield m
    finally:
        sc._jsc.clearJobGroup()
    cg1 = _compiles(sc)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store, tracker = sc._jsc.sc().statusStore(), sc.statusTracker()
    m["job_list"] = [
        {"id": j, "stages": [s for s in (_stage(store, sid) for sid in tracker.getJobInfo(j).stageIds) if s]}
        for j in sorted(tracker.getJobIdsForGroup(tag))
    ]
    stages = [s for j in m["job_list"] for s in j["stages"]]
    m.update(jobs=len(m["job_list"]), stages=len(stages), tasks=sum(s["tasks"] for s in stages),
             run_ms=sum(s["run_ms"] for s in stages), cpu_ms=sum(s["cpu_ms"] for s in stages),
             shuffle_bytes=sum(s["shuffle_read"] + s["shuffle_write"] for s in stages),
             compiles=cg1 - cg0, pinned=sc._jsc.getPersistentRDDs().size())


def _names(qs, names: str | None) -> list[str]:
    return names.split(",") if names else [n for n in bench.HEADLINE if n in qs]


def cmd_time(spark, qs, sf, names, passes="1") -> None:
    import docker_neo4j_spark

    secs: dict[str, list[float]] = {}
    counters: dict[str, list[int]] = {}
    for p in range(int(passes)):
        for name in names.split(","):
            with measure(spark, f"{name}#{p}") as m:
                t = bench.timed(spark, qs[name], sf)[1]
            secs.setdefault(name, []).append(round(t, 3))
            counters[name] = [m["jobs"], m["stages"], m["tasks"]]
    print(json.dumps({"queries": secs, "counters": counters, "engine": docker_neo4j_spark.__file__}))


def cmd_layers(spark, qs, sf, names=None) -> None:
    rows: dict[str, list] = {}
    for p in range(2):
        for name in _names(qs, names):
            with measure(spark, f"{name}#{p}") as m:
                build, total = bench.timed(spark, qs[name], sf)
            rows.setdefault(name, []).append((build, total - build, m))
    print(f"{'query':35s} {'build':>7s} {'run1':>7s} {'run2':>7s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}"
          f" {'run_s':>7s} {'cpu_s':>7s} {'shuf_MB':>7s} {'cg1':>4s} {'cg2':>4s} {'pin':>4s}")
    for name, ((build, run1, m), (_, run2, m2)) in rows.items():
        print(f"{name:35s} {build:7.2f} {run1:7.2f} {run2:7.2f} {m['jobs']:5d} {m['stages']:6d} {m['tasks']:6d}"
              f" {m['run_ms'] / 1e3:7.2f} {m['cpu_ms'] / 1e3:7.2f} {m['shuffle_bytes'] / 1e6:7.1f}"
              f" {m['compiles']:4d} {m2['compiles']:4d} {m['pinned']:4d}")


def _two_passes(spark, qs, sf, name) -> dict:
    """Q cold, then warm; the warm pass's measure."""
    for p in range(2):
        with measure(spark, f"{name}#{p}") as m:
            build, total = bench.timed(spark, qs[name], sf)
        print(f"{name} pass {p}: build={build:.2f} write={total - build:.2f}")
    return m


def cmd_jobs(spark, qs, sf, name) -> None:
    m = _two_passes(spark, qs, sf, name)
    total = 0.0
    for job in m["job_list"]:
        st = job["stages"]
        span = (max(s["done"] for s in st) - min(s["submitted"] for s in st)) / 1e3 if st else 0.0
        total += span
        print(f"  job {job['id']:4d} {span:7.3f}s stages={len(st):2d} tasks={sum(s['tasks'] for s in st):4d}"
              f"  {max(st, key=lambda s: s['id'])['name'][:60] if st else '(all stages skipped)'}")
    print(f"  sum of job spans: {total:.2f}s over {m['jobs']} jobs")


def cmd_stages(spark, qs, sf, name) -> None:
    m = _two_passes(spark, qs, sf, name)
    print(f"{'stage':>5s} {'dur_s':>7s} {'run_s':>7s} {'cpu_s':>7s} {'tasks':>5s} {'shW_MB':>7s} {'shR_MB':>7s}  name")
    total = 0.0
    for s in sorted((s for j in m["job_list"] for s in j["stages"]), key=lambda s: s["id"]):
        dur = (s["done"] - s["launched"]) / 1e3
        total += dur
        print(f"{s['id']:5d} {dur:7.2f} {s['run_ms'] / 1e3:7.2f} {s['cpu_ms'] / 1e3:7.2f}"
              f" {s['tasks']:5d} {s['shuffle_write'] / 1e6:7.1f} {s['shuffle_read'] / 1e6:7.1f}  {s['name'][:60]}")
    print(f"TOTAL  dur={total:.2f} run={m['run_ms'] / 1e3:.2f} cpu={m['cpu_ms'] / 1e3:.2f} over {m['stages']} stages")


def cmd_events(spark, qs, sf, name) -> None:
    """Each action is timed once: kernels checkpoint through
    DataFrame.localCheckpoint, so no event nests inside another and the
    driver/plan residue is build time minus the sum of the events."""
    events: list[tuple[str, float]] = []
    # the concrete (classic) class: it overrides both methods, so patching
    # the pyspark.sql.DataFrame base would never see a call
    DataFrame = type(spark.range(0))
    originals = {attr: getattr(DataFrame, attr) for attr in ("isEmpty", "localCheckpoint")}

    def timer(attr, fn):
        def call(self, *args, **kwargs):
            t0 = time.time()
            out = fn(self, *args, **kwargs)
            sig = ", ".join([*map(repr, args), *(f"{k}={v!r}" for k, v in kwargs.items())])
            events.append((f"{attr}({sig})", time.time() - t0))
            return out
        return call

    for attr, fn in originals.items():
        setattr(DataFrame, attr, timer(attr, fn))
    try:
        for p in range(2):
            events.clear()
            build, total = bench.timed(spark, qs[name], sf)
            print(f"pass {p}: build={build:.2f} write={total - build:.2f}")
            for i, (tag, dt) in enumerate(events):
                print(f"  {i:3d} {tag:28s} {dt:7.3f}s")
            print(f"  (driver/plan residue inside build: {build - sum(dt for _, dt in events):.2f}s)")
    finally:
        for attr, fn in originals.items():
            setattr(DataFrame, attr, fn)


_PLAN_NOISE = (
    (re.compile(r"#\d+"), "#N"),  # expression ids (name#123, id#45L)
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"graft_loadcsv_\w+"), "graft_loadcsv_X"),  # LOAD CSV temp dir
)


def normalise_plan(text: str) -> str:
    """A formatted plan with its per-run tokens rewritten to stable ones:
    expression ids, exchange ``plan_id``s and LOAD CSV's temp-directory
    name."""
    for pattern, token in _PLAN_NOISE:
        text = pattern.sub(token, text)
    return text


def cmd_plans(spark, qs, sf, tag, names=None) -> None:
    outdir = os.path.join(ROOT, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    for name in _names(qs, names):
        try:
            bench.clear(spark)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, sf).explain("formatted")
            with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
                f.write(normalise_plan(buf.getvalue()))
            print(f"ok    {name}")
        except Exception as ex:  # noqa: BLE001 - report and continue
            print(f"ERROR {name}: {type(ex).__name__}: {str(ex)[:200]}")


def ab(tree_a, tree_b, names, runs="3") -> None:
    sides = {"A": (tree_a, []), "B": (tree_b, [])}
    for r in range(int(runs)):
        for side in "AB" if r % 2 == 0 else "BA":
            tree, out = sides[side]
            cmd = [sys.executable, os.path.abspath(__file__), "--repo", tree, "time", names, "2"]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=True)
            out.append(json.loads(proc.stdout.strip().splitlines()[-1]))
    for side, (tree, out) in sides.items():
        print(f"{side}: {tree} (engine {out[0]['engine']})")
    print(f"{'query':35s} side {'median':>8s} {'q1':>8s} {'q3':>8s} wins  jobs/stages/tasks  runs")
    for name in names.split(","):
        secs = {side: [min(o["queries"][name]) for o in out] for side, (_, out) in sides.items()}
        for side, other in (("A", "B"), ("B", "A")):
            xs = secs[side]
            q1, _, q3 = statistics.quantiles(xs, n=4, method="inclusive") if len(xs) > 1 else xs * 3
            wins = sum(x < y for x, y in zip(xs, secs[other]))
            counters = sorted({"/".join(map(str, o["counters"][name])) for o in sides[side][1]})
            print(f"{name:35s} {side:4s} {statistics.median(xs):8.3f} {q1:8.3f} {q3:8.3f} {wins:2d}/{len(xs)}"
                  f"  {' '.join(counters)}  {' '.join(f'{x:.2f}' for x in xs)}")


# subcommand -> (function, number of required arguments)
COMMANDS = {"time": (cmd_time, 1), "layers": (cmd_layers, 0), "jobs": (cmd_jobs, 1), "stages": (cmd_stages, 1),
            "events": (cmd_events, 1), "plans": (cmd_plans, 1), "ab": (ab, 3)}


def main(argv: list[str]) -> int:
    tree = ROOT
    if argv[:1] == ["--repo"] and len(argv) > 1:
        tree, argv = os.path.abspath(argv[1]), argv[2:]
    cmd, args = (argv[0], argv[1:]) if argv else ("", [])
    if cmd not in COMMANDS or len(args) < COMMANDS[cmd][1]:
        print(__doc__, file=sys.stderr)
        return 2
    if cmd == "ab":
        ab(*args)
        return 0
    sys.path.insert(0, tree)
    import __spark_entry__ as e

    sf = bench.settings()[0]
    spark = bench.session()
    bench.warm(spark, sf)
    COMMANDS[cmd][0](spark, e.queries(), sf, *args)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
