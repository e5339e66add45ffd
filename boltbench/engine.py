"""The engine side of the benchmark: one process that serves the graph over Bolt.

Started by ``run.py`` as::

    python3 boltbench/engine.py --data DIR --cpus N --work DIR --trace 0|1

It starts Spark with ``get_spark`` on ``local[N]``, builds
``GraphStore(spark, build_graph(spark, DIR))`` and serves a ``Session`` on
it with ``BoltServer`` on a free port. Then it answers one command per line
on stdin, each acknowledged by one ``@@{json}`` line on stdout:

- ``mark``: start of the measured window;
- ``cpu``: the engine's CPU seconds so far;
- ``report PATH``: write what was recorded to PATH as JSON;
- ``quit``: stop the server and Spark, then exit.

Every statement passes through ``Recorder``, which the Bolt server sees as
its ``Session``. Untraced, it only sets a Spark job group per statement and
reads the process-wide codegen counter, so jobs, stages, tasks and compiles
can be attributed to statements afterwards. With ``--trace 1`` it also
times ``Session.run`` and the result iterator, and wraps the ``GraphStore``
write methods, ``procedures.registry.call`` and the ``operators.gds``
kernels the workloads reach, recording a span for each call.
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import sys
import threading
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# The statement tag travels as an extra Bolt parameter and is removed here,
# before the engine sees the statement.
TAG_PARAM = "__boltbench"
STORE_WRITE_PREFIXES = ("append_", "merge_", "set_", "create_", "delete_")
GDS_KERNELS = ("pagerank", "wcc", "betweenness")


def _now_ns() -> int:
    return time.perf_counter_ns()


class Recorder:
    """Stands in for the ``Session`` the Bolt server calls; forwards every
    statement to the real session and records it."""

    def __init__(self, spark, session, trace: bool):
        self.spark = spark
        self.session = session
        self.trace = trace
        self.sc = spark.sparkContext
        self.jtracker = self.sc.statusTracker()._jtracker
        jvm = self.sc._jvm
        self._cg_count = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self._cg_time = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self.statements: list[dict] = []
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    # -- counters ------------------------------------------------------------
    def codegen(self) -> tuple[int, float]:
        """Janino compilations so far in this JVM, and their total ms."""
        return self._cg_count.getCount(), self._cg_time.compileTime() / 1e6

    def jobs_of(self, group: str) -> list[int]:
        return sorted(self.jtracker.getJobIdsForGroup(group))

    def pinned_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()

    # -- the Session surface the Bolt server uses ----------------------------
    def run(self, text: str, parameters: dict | None = None):
        params = dict(parameters or {})
        tag = params.pop(TAG_PARAM, None) or {}
        stmt = {
            "id": tag.get("id", ""),
            "type": tag.get("type", ""),
            "group": f"boltbench-{len(self.statements)}-{tag.get('id', '')}",
        }
        with self._lock:
            self.statements.append(stmt)
        stmt["cg0"] = self.codegen()
        self.sc.setJobGroup(stmt["group"], stmt["type"] or "statement")
        if not self.trace:
            return self.session.run(text, params or None)
        # Bookkeeping stays outside every timed interval: counters are read
        # before the span opens, and the run's jobs are counted before
        # t_ret, from which the first row is timed.
        stmt["pinned0"] = self.pinned_rdds()
        self._local.stmt = stmt
        self._local.stack = []
        try:
            with self.span("cypher.run"):
                df = self.session.run(text, params or None)
        finally:
            stmt["run_jobs"] = len(self.jobs_of(stmt["group"]))
            stmt["t_ret"] = _now_ns()
        return _TimedResult(self, stmt, df)

    # -- spans -----------------------------------------------------------------
    def span(self, name: str, jobs: bool = False):
        return _Span(self, name, jobs)

    def wrap(self, owner, attr: str, name: str, jobs: bool = False) -> None:
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if getattr(self._local, "stmt", None) is None:
                return fn(*args, **kwargs)
            with self.span(name, jobs):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def install_wrappers(self) -> None:
        from docker_neo4j_spark.operators import gds
        from docker_neo4j_spark.procedures import registry
        from docker_neo4j_spark.storage.store import GraphStore

        for attr in sorted(vars(GraphStore)):
            if attr.startswith(STORE_WRITE_PREFIXES) and callable(getattr(GraphStore, attr)):
                self.wrap(GraphStore, attr, f"storage.{attr}")
        self.wrap(registry, "call", "procedures.call")
        for kernel in GDS_KERNELS:
            self.wrap(gds, kernel, f"operators.gds.{kernel}", jobs=True)

    # -- harvest ---------------------------------------------------------------
    def harvest(self, mark_index: int) -> dict:
        """Per-statement Spark work from the status store, after the
        listener bus has caught up."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        store = self.sc._jsc.sc().statusStore()
        stage_cache: dict[int, dict] = {}

        def stage(sid: int) -> dict:
            if sid not in stage_cache:
                sd = store.lastStageAttempt(sid)
                ran = sd.status().toString() != "SKIPPED"
                stage_cache[sid] = {
                    "ran": ran,
                    "tasks": sd.numCompleteTasks() if ran else 0,
                    "run_ms": sd.executorRunTime() if ran else 0,
                    "cpu_ms": sd.executorCpuTime() / 1e6 if ran else 0.0,
                    "shuffle_bytes": (sd.shuffleReadBytes() + sd.shuffleWriteBytes()) if ran else 0,
                }
            return stage_cache[sid]

        def work(job_ids) -> dict:
            out = {"jobs": len(job_ids), "stages": 0, "tasks": 0, "run_ms": 0,
                   "cpu_ms": 0.0, "shuffle_bytes": 0}
            for jid in job_ids:
                info = self.jtracker.getJobInfo(jid)
                if info is None:
                    continue
                for sid in info.stageIds():
                    st = stage(sid)
                    out["stages"] += st["ran"]
                    for k in ("tasks", "run_ms", "cpu_ms", "shuffle_bytes"):
                        out[k] += st[k]
            return out

        for stmt in self.statements[mark_index:]:
            stmt["work"] = work(self.jobs_of(stmt["group"]))
        for sp in self.spans:
            if "job_ids" in sp:
                sp["work"] = work(sp.pop("job_ids"))
        return {"statements": self.statements[mark_index:], "spans": self.spans}


class _Span:
    __slots__ = ("rec", "name", "jobs", "rec_span")

    def __init__(self, rec: Recorder, name: str, jobs: bool):
        self.rec, self.name, self.jobs = rec, name, jobs

    def __enter__(self):
        local = self.rec._local
        stack = local.stack
        sp = {
            "name": self.name,
            "stmt": local.stmt["id"],
            "parent": stack[-1]["idx"] if stack else None,
            "start": _now_ns(),
        }
        if self.jobs:
            sp["jobs0"] = set(self.rec.jobs_of(local.stmt["group"]))
        with self.rec._lock:
            sp["idx"] = len(self.rec.spans)
            self.rec.spans.append(sp)
        stack.append(sp)
        self.rec_span = sp
        return sp

    def __exit__(self, *exc):
        sp = self.rec_span
        sp["end"] = _now_ns()
        self.rec._local.stack.pop()
        if self.jobs:
            group = self.rec._local.stmt["group"]
            sp["job_ids"] = sorted(set(self.rec.jobs_of(group)) - sp.pop("jobs0"))
        return False


class _TimedResult:
    """The statement's result as the Bolt server uses it (``columns`` and
    ``toLocalIterator``), timing the first row and every later fetch."""

    def __init__(self, rec: Recorder, stmt: dict, df):
        self.rec, self.stmt, self.df = rec, stmt, df
        self.columns = df.columns

    def toLocalIterator(self):
        stmt, rec = self.stmt, self.rec
        rec._local.stmt = None  # spans after run() belong to no statement
        fetch_ns = 0
        it = iter(self.df.toLocalIterator())
        try:
            first = next(it)
        except StopIteration:
            first = None
        stmt["t_first"] = _now_ns()
        if first is not None:
            yield first
            while True:
                t = _now_ns()
                try:
                    row = next(it)
                except StopIteration:
                    fetch_ns += _now_ns() - t
                    break
                fetch_ns += _now_ns() - t
                yield row
        stmt["t_end"] = _now_ns()
        stmt["fetch_ns"] = fetch_ns


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid: int) -> list[int]:
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as fh:
                kids += [int(x) for x in fh.read().split()]
    except OSError:
        pass
    return kids


def _cpu_ticks(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            fields = fh.read().rpartition(")")[2].split()
        return int(fields[11]) + int(fields[12])  # utime, stime
    except OSError:
        return 0


def cpu_s() -> float:
    """CPU seconds used so far by this process plus its JVM (and any other
    child). Time the hypervisor gives to other guests (steal) is not
    charged, so this moves less with the host's load than wall time."""
    me = os.getpid()
    return sum(_cpu_ticks(p) for p in [me, *_children(me)]) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb() -> float:
    """VmHWM of this process plus its JVM (and any other child)."""
    me = os.getpid()
    return sum(_vm_hwm_kb(p) for p in [me, *_children(me)]) / 1024.0


def _say(**msg) -> None:
    sys.stdout.write("@@" + json.dumps(msg) + "\n")
    sys.stdout.flush()


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--data", required=True)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()

    t0 = time.perf_counter()
    from docker_neo4j_spark import get_spark
    from docker_neo4j_spark.bolt import BoltServer
    from docker_neo4j_spark.cypher.session import Session
    from docker_neo4j_spark.sources.tpch import build_graph
    from docker_neo4j_spark.storage.store import GraphStore

    spark = get_spark(
        app_name="boltbench",
        master=f"local[{args.cpus}]",
        extra_conf={
            "spark.sql.shuffle.partitions": str(max(args.cpus, 8)),
            "spark.local.dir": os.path.join(args.work, "spark-local"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={args.work}",
            # keep every job and stage of a run for the per-statement harvest
            "spark.ui.retainedJobs": "1000000",
            "spark.ui.retainedStages": "1000000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    t_spark = time.perf_counter()

    session = Session(spark, store=GraphStore(spark, build_graph(spark, args.data)))
    rec = Recorder(spark, session, bool(args.trace))
    if args.trace:
        rec.install_wrappers()
    server = BoltServer(rec).start()
    _say(event="ready", port=server.port, spark_start_s=t_spark - t0,
         catalog_s=time.perf_counter() - t_spark)

    mark = 0
    for line in sys.stdin:
        cmd, _, arg = line.strip().partition(" ")
        if cmd == "mark":
            mark = len(rec.statements)
            _say(event="mark", codegen=rec.codegen(), cpu_s=cpu_s())
        elif cmd == "cpu":
            _say(event="cpu", cpu_s=cpu_s())
        elif cmd == "report":
            out = rec.harvest(mark)
            out.update(codegen=rec.codegen(), pinned_rdds=rec.pinned_rdds(),
                       peak_rss_mb=peak_rss_mb())
            with open(arg, "w") as fh:
                json.dump(out, fh)
            _say(event="report", path=arg)
        elif cmd == "quit":
            break
    server.stop()
    spark.stop()
    _say(event="bye")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
