"""Served-path benchmark: a closed-loop Bolt load generator for the engine.

    python3 boltbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Starts the engine (``engine.py``) in its own process, drives it over Bolt
from this process with the workload's statements, checks every reply,
and prints one ``metric`` line per number followed, as the last line, by
one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones from the engine-side spans. See README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import queue
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

from engine import TAG_PARAM  # noqa: E402

HARD_STOP_S = 150.0  # stop issuing statements this long after start


@dataclass
class Record:
    id: str
    stmt: object
    reply: object = None
    error: str | None = None
    t_end: float = 0.0


class Engine:
    """The engine process and its line protocol (see engine.py)."""

    def __init__(self, data: str, work: str, trace: int, log_path: str):
        cpus = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, TMPDIR=tmp, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        self.log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "engine.py"), "--data", data,
             "--cpus", str(cpus), "--work", work, "--trace", str(trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=self.log,
            text=True, cwd=work, env=env,
        )
        self.events: queue.Queue = queue.Queue()
        self.reader = threading.Thread(target=self._read, daemon=True)
        self.reader.start()

    def _read(self) -> None:
        for line in self.proc.stdout:
            if line.startswith("@@"):
                self.events.put(json.loads(line[2:]))
        self.events.put({"event": "exit"})

    def expect(self, event: str, timeout: float) -> dict:
        msg = self.events.get(timeout=timeout)
        if msg.get("event") != event:
            raise RuntimeError(f"engine sent {msg} while waiting for {event}")
        return msg

    def command(self, line: str, event: str, timeout: float = 60.0) -> dict:
        self.proc.stdin.write(line + "\n")
        self.proc.stdin.flush()
        return self.expect(event, timeout)

    def close(self) -> None:
        if self.proc.poll() is None:
            try:
                self.command("quit", "bye", timeout=30.0)
            except (OSError, RuntimeError, queue.Empty):
                pass
            try:
                self.proc.wait(timeout=30.0)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.reader.join(timeout=10.0)
        self.log.close()


def run_rounds(conns, streams, phase: str, deadline: float | None,
               rounds: int | None, hard_stop: float) -> list[Record]:
    """One closed loop per connection: each sends its next statement only
    after the previous reply completed. Whole rounds are sent until
    ``rounds`` are done or ``deadline`` has passed."""
    out: list[list[Record]] = [[] for _ in conns]

    def loop(i: int) -> None:
        done = 0
        while rounds is None or done < rounds:
            now = time.perf_counter()
            if now >= hard_stop or (deadline is not None and done and now >= deadline):
                return
            # the next round is generated only once it is sure to run
            for stmt in next(streams[i]):
                rec = Record(f"{phase}{i}-{len(out[i])}", stmt)
                params = dict(stmt.params)
                params[TAG_PARAM] = {"id": rec.id, "type": stmt.type}
                try:
                    rec.reply = conns[i].run(stmt.text, params)
                except Exception as exc:  # noqa: BLE001 - counted as a failed statement
                    rec.error = f"{type(exc).__name__}: {exc}"
                rec.t_end = time.perf_counter()
                out[i].append(rec)
            done += 1

    threads = [threading.Thread(target=loop, args=(i,)) for i in range(len(conns))]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    return [r for recs in out for r in recs]


def host_loop_ms() -> float:
    """Time of a fixed pure-Python loop: how fast this host runs right now.
    On a shared VM it moves by tens of percent from minute to minute; the
    engine's timings move with it, so each run prints it beside them."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x += i * i
    return (time.perf_counter() - t) * 1e3


def p50(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def after_each(report: dict, key: str, at_end) -> dict[str, object]:
    """A counter's value after each statement: what the next statement
    read before it started, or the report's value after the last one.
    Exact when statements run one at a time. The engine reads counters only
    at the start of a statement, so no read falls inside a timed span."""
    stmts = report["statements"]
    nxt = [s[key] for s in stmts[1:]] + [at_end]
    return {s["id"]: after for s, after in zip(stmts, nxt)}


def codegen_deltas(report: dict) -> dict[str, tuple]:
    """(compiles, compile ms) per statement id: the counter's growth from
    the statement's start to the next statement's start."""
    before = {s["id"]: s["cg0"] for s in report["statements"]}
    return {i: (after[0] - before[i][0], after[1] - before[i][1])
            for i, after in after_each(report, "cg0", report["codegen"]).items()}


def counters_by_type(measured: list[Record], by_id: dict, cg: dict | None) -> dict:
    """Deterministic work per statement type: jobs, stages, tasks and,
    at one connection, codegen compiles (medians over the type)."""
    types: dict[str, list] = {}
    for r in measured:
        s = by_id.get(r.id)
        if s is None or "work" not in s:
            continue
        w = s["work"]
        row = [w["jobs"], w["stages"], w["tasks"]]
        if cg is not None:
            row.append(cg.get(r.id, (0, 0.0))[0])
        types.setdefault(r.stmt.type, []).append(row)
    return {t: [p50([row[i] for row in rows]) for i in range(len(rows[0]))]
            for t, rows in types.items()}


def check_counter_repeat(path: str, seq: list, compiles: int) -> str:
    """Compare this run's counters with the previous run of the same
    workload, seed and scale: the jobs and tasks of each statement over the
    common prefix must be equal. The run's codegen compiles are shown
    beside it; they are not exact (a few compiles per run depend on timing)."""
    prev = None
    if os.path.exists(path):
        with open(path) as fh:
            prev = json.load(fh)
    with open(path, "w") as fh:
        json.dump({"statements": seq, "compiles": compiles}, fh)
    if prev is None:
        return "n/a (first run)"
    old = prev["statements"]
    n = min(len(old), len(seq))
    diff = [f"{old[i]} then {seq[i]}" for i in range(n) if old[i] != seq[i]]
    verdict = f"NO, first difference {diff[0]}" if diff else "yes"
    return (f"{verdict} ({n} statements compared; run compiles "
            f"{prev['compiles']} then {compiles})")


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span duration minus the part its child spans cover, in ms."""
    child = {sp["idx"]: 0 for sp in spans}
    for sp in spans:
        if sp["parent"] is not None:
            child[sp["parent"]] += sp["end"] - sp["start"]
    return {sp["idx"]: (sp["end"] - sp["start"] - child[sp["idx"]]) / 1e6 for sp in spans}


def outermost(spans: list[dict], prefix: str) -> list[dict]:
    by_idx = {sp["idx"]: sp for sp in spans}

    def inside(sp):
        p = sp["parent"]
        while p is not None:
            if by_idx[p]["name"].startswith(prefix):
                return True
            p = by_idx[p]["parent"]
        return False

    return [sp for sp in spans if sp["name"].startswith(prefix) and not inside(sp)]


def layer_metrics(measured, by_id, spans, cg, pinned, run_cg, one_conn: bool) -> dict:
    """Per-statement means of each layer's numbers, from the traced run."""
    per_stmt: dict[str, list[dict]] = {}
    for sp in spans:
        per_stmt.setdefault(sp["stmt"], []).append(sp)
    selfs = self_times(spans)
    rows_total = bytes_total = 0
    acc: dict[str, list[float]] = {}
    coverage = []

    def add(name, v):
        acc.setdefault(name, []).append(v)

    for r in measured:
        s = by_id.get(r.id)
        if r.reply is None or s is None or "t_end" not in s:
            continue
        sps = per_stmt.get(r.id, [])
        run = [sp for sp in sps if sp["name"] == "cypher.run"]
        run_ms = sum((sp["end"] - sp["start"]) / 1e6 for sp in run)
        first_ms = (s["t_first"] - s["t_ret"]) / 1e6
        fetch_ms = s["fetch_ns"] / 1e6
        encode_ms = max(0.0, r.reply.pull_s * 1e3 - fetch_ms)
        w = s["work"]
        add("cypher.run_ms", run_ms)
        add("cypher.run_jobs", s["run_jobs"])
        add("spark.jobs", w["jobs"])
        add("spark.stages", w["stages"])
        add("spark.tasks", w["tasks"])
        add("spark.executor_run_ms", w["run_ms"])
        add("spark.executor_cpu_ms", w["cpu_ms"])
        add("spark.shuffle_bytes", w["shuffle_bytes"])
        if one_conn:
            add("spark.codegen_compiles", cg[r.id][0])
            add("spark.codegen_ms", cg[r.id][1])
        add("bolt.first_row_ms", first_ms)
        add("bolt.fetch_ms", fetch_ms)
        add("bolt.encode_ms", encode_ms)
        add("storage.write_ms", sum((sp["end"] - sp["start"]) / 1e6
                                    for sp in outermost(sps, "storage.")))
        add("storage.pinned_rdds", pinned[r.id])
        add("procedures.call_ms", sum((sp["end"] - sp["start"]) / 1e6
                                      for sp in outermost(sps, "procedures.")))
        kernels = outermost(sps, "operators.gds.")
        add("operators.gds.kernel_ms", sum((sp["end"] - sp["start"]) / 1e6 for sp in kernels))
        add("operators.gds.jobs", sum(sp["work"]["jobs"] for sp in kernels))
        add("operators.gds.tasks", sum(sp["work"]["tasks"] for sp in kernels))
        blocking = sum(selfs[sp["idx"]] for sp in sps) + first_ms + fetch_ms + encode_ms
        coverage.append(100.0 * blocking / (r.reply.latency_s * 1e3))
        rows_total += len(r.reply.rows)
        bytes_total += r.reply.pull_bytes
    n = len(acc.get("cypher.run_ms", []))
    out = {k: sum(v) / len(v) for k, v in acc.items()}
    if not one_conn and n:
        # codegen counters are process-wide: per run, spread over statements
        out["spark.codegen_compiles"] = run_cg[0] / n
        out["spark.codegen_ms"] = run_cg[1] / n
    out["bolt.bytes_per_row"] = bytes_total / max(rows_total, 1)
    out["trace.coverage_pct"] = p50(coverage)
    return out


LAYER_UNITS = {
    "cypher.run_ms": "ms", "cypher.run_jobs": "count", "spark.jobs": "count",
    "spark.stages": "count", "spark.tasks": "count", "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms", "spark.shuffle_bytes": "bytes",
    "spark.codegen_compiles": "count", "spark.codegen_ms": "ms",
    "bolt.first_row_ms": "ms", "bolt.fetch_ms": "ms", "bolt.encode_ms": "ms",
    "bolt.bytes_per_row": "bytes", "storage.write_ms": "ms", "storage.pinned_rdds": "count",
    "procedures.call_ms": "ms", "operators.gds.kernel_ms": "ms", "operators.gds.jobs": "count",
    "operators.gds.tasks": "count", "trace.stmt_per_s": "1/s", "trace.cpu_s_per_stmt": "s",
    "trace.coverage_pct": "%",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="override the workload's TPC-H scale factor (smoke tests)")
    args = ap.parse_args()

    if importlib.util.find_spec("docker_neo4j_spark") is None:
        print("docker_neo4j_spark not found: run from the root of the repository",
              file=sys.stderr)
        return 2
    from client import Connection
    from workloads import WORKLOADS, Oracle, fixture_dir

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    scale = args.scale if args.scale is not None else WORKLOADS[args.workload].scale
    if not os.path.isdir(fixture_dir(scale)):
        print(f"TPC-H fixture not found: {fixture_dir(scale)}", file=sys.stderr)
        return 2
    t_begin = time.perf_counter()
    hard_stop = t_begin + HARD_STOP_S
    wl = WORKLOADS[args.workload](args.seed, args.scale)
    work = os.path.join(ROOT, ".boltbench")
    data = wl.data
    tag = f"{wl.name}-seed{args.seed}-sf{wl.scale:g}"

    t_spawn = time.perf_counter()
    engine = Engine(data, work, args.trace, os.path.join(work, f"engine-{tag}.log"))
    conns = []
    try:
        ready = engine.expect("ready", timeout=90.0)
        conns = [Connection(ready["port"], wl.timeout_s) for _ in range(wl.connections)]
        pre = run_rounds(conns[:1], [iter([wl.setup()])], "s", None, 1, hard_stop)
        streams = [wl.rounds(i) for i in range(wl.connections)]
        pre += run_rounds(conns, [iter([wl.warmup(s)]) for s in streams], "w", None, 1,
                          hard_stop)
        setup_s = time.perf_counter() - t_spawn
        host_ms = host_loop_ms()
        mark = engine.command("mark", "mark")
        t0 = time.perf_counter()
        measured = run_rounds(
            conns, streams, "m",
            None if wl.fixed_rounds else t0 + args.seconds,
            wl.fixed_rounds or None, hard_stop,
        )
        t1 = max([r.t_end for r in measured], default=t0)
        cpu = engine.command("cpu", "cpu")["cpu_s"] - mark["cpu_s"]
        final = run_rounds(conns[:1], [iter([wl.final(bool(args.trace))])], "f", None, 1,
                           hard_stop)
        report_path = os.path.join(work, f"trace-{tag}.json" if args.trace else f"report-{tag}.json")
        engine.command(f"report {report_path}", "report", timeout=120.0)
    finally:
        for c in conns:
            c.close()
        engine.close()
    with open(report_path) as fh:
        report = json.load(fh)

    # -- checks ----------------------------------------------------------------
    oracle = Oracle(data, os.path.join(work, "tmp"))
    checked = pre + measured + final
    failed = 0
    for r in checked:
        if r.error is None:
            rows = r.reply.rows
            r.error = r.stmt.check(rows, oracle)
        if r.error is not None:
            failed += 1
            print(f"FAILED {r.id} {r.stmt.type}: {r.error[:300]}", file=sys.stderr)
    ok = [r for r in measured if r.error is None]
    correct = failed == 0 and len(ok) > 0

    # -- end-to-end metrics ------------------------------------------------------
    window = max(t1 - t0, 1e-9)
    lat = {r.id: r.reply.latency_s * 1e3 for r in ok}
    by_type: dict[str, list[float]] = {}
    for r in ok:
        by_type.setdefault(r.stmt.type, []).append(lat[r.id])
    rows = sum(len(r.reply.rows) for r in ok)
    stmt_per_s = len(measured) / window
    e2e = {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_stmt": (cpu / max(len(measured), 1), "s"),
        "ok_ratio": (1.0 - failed / max(len(checked), 1), "ratio"),
    }
    t_report = time.perf_counter() - t_begin
    print(f"run {tag} trace={args.trace} connections={wl.connections} "
          f"statements={len(measured)} window_s={window:.3f} "
          f"spark_start_s={ready['spark_start_s']:.3f} catalog_s={ready['catalog_s']:.3f} "
          f"done_s={t_report:.1f} host_loop_ms={host_ms:.1f}")
    print(f"metric peak_rss_mb {report['peak_rss_mb']:.1f} MB")
    print(f"metric stmt_per_s {stmt_per_s:.6g} 1/s")
    print(f"metric rows_per_s {rows / window:.4f} 1/s")
    print(f"metric stmt_p50_ms {p50(list(lat.values())):.4f} ms")
    for r in pre:
        if r.reply is not None:
            print(f"setup {r.id} {r.stmt.type} ms={r.reply.latency_s * 1e3:.1f}")
    for t, v in sorted(by_type.items()):
        unit_s = t.startswith("gds_")
        print(f"type {t} n={len(v)} p50_{'s' if unit_s else 'ms'}="
              f"{p50(v) / 1e3 if unit_s else p50(v):.4f}")
    writes = [lat[r.id] for r in ok if r.stmt.write]
    if writes:
        print(f"metric write_p50_ms {p50(writes):.4f} ms")
        print(f"metric read_p50_ms {p50([lat[r.id] for r in ok if not r.stmt.write]):.4f} ms")
    all_lat = sorted(lat.values())
    if len(all_lat) >= 100:  # ten samples beyond the 90th percentile
        print(f"metric stmt_p90_ms {statistics.quantiles(all_lat, n=10)[-1]:.4f} ms")

    # -- deterministic counters ---------------------------------------------------
    by_id = {s["id"]: s for s in report["statements"]}
    one_conn = wl.connections == 1
    cg = codegen_deltas(report) if one_conn else None
    run_cg = (report["codegen"][0] - mark["codegen"][0], report["codegen"][1] - mark["codegen"][1])
    for t, vals in sorted(counters_by_type(measured, by_id, cg).items()):
        names = ["jobs", "stages", "tasks", "codegen_compiles"][: len(vals)]
        print(f"counters {t} " + " ".join(f"{k}={v:g}" for k, v in zip(names, vals)))
    print(f"counters run codegen_compiles={run_cg[0]} pinned_rdds_at_end={report['pinned_rdds']}")
    if one_conn:
        seq = [[r.stmt.type, by_id[r.id]["work"]["jobs"], by_id[r.id]["work"]["tasks"]]
               for r in measured if r.id in by_id]
        path = os.path.join(work, f"counters-{tag}.json")
        print(f"counters_repeat {check_counter_repeat(path, seq, run_cg[0])}")

    if args.trace:
        pinned = after_each(report, "pinned0", report["pinned_rdds"])
        metrics = layer_metrics(measured + final, by_id, report["spans"], cg, pinned, run_cg,
                                one_conn)
        metrics["trace.stmt_per_s"] = stmt_per_s
        metrics["trace.cpu_s_per_stmt"] = e2e["cpu_s_per_stmt"][0]
        out = {k: {"value": metrics.get(k, 0.0), "unit": u} for k, u in LAYER_UNITS.items()}
    else:
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    for k, m in out.items():
        print(f"metric {k} {m['value']:.6g} {m['unit']}")
    print(f"elapsed_s {time.perf_counter() - t_begin:.1f}")
    print(json.dumps({"correct": correct, "attempted": len(checked), "failed": failed,
                      "metrics": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
