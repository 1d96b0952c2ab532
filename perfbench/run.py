"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload ngql_point --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. One client drives a closed loop on
``local[nproc]``: the next op starts when the previous one's last result row
has reached the Spark driver. The loop runs whole rounds of the workload's op
list until ``--seconds`` have passed and at least three rounds have run.
Set-up (session start and binding, done three times with the median kept,
then the workload's untimed warm-up rounds: two for graph_iterative, one
for the others) and the output checks are outside the timed loop. ``latency_p50_ms`` is each op template's median latency over
the timed ops, averaged over the templates (reads only on ``dml_mixed``);
``ops_per_s`` is the median over the timed rounds of each round's ops ÷ its
wall time. Both are medians so that a host stall that slows one round does
not move them.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the loop
untraced and then traced (for half of ``--seconds``), and reports the
per-layer split of the traced ops plus the tracing overhead (traced minus
untraced median latency).

The last stdout line is one JSON object: correct, attempted, failed,
metrics. The lines before it print every metric with its unit and a
``detail`` record with host facts, counts per template and the set-up
samples. Design notes per workload are in ``perfbench/design.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

import datagen
from tracer import Tracer
from workloads import WORKLOADS

ROOT = Path(__file__).resolve().parent.parent
SETUP_REPS = 3
# at least this many timed rounds: the medians then always sit on the same
# round of a run, not on a mean of two when slow ops fit only two in
MIN_ROUNDS = 3
ROUNDS = 400            # op rounds generated per run; far more than one uses

END_TO_END = {  # name → unit
    "setup_s": "s", "latency_p50_ms": "ms", "ops_per_s": "1/s",
}
# peak_rss_mb is per-layer, not gated: the JVM's VmHWM follows when G1
# grows the heap and moved by ±20% between runs of identical work
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s", "catalog.bind_s": "s", "warmup_s": "s",
    "plans.ngql.parse_ms": "ms", "plans.executor.build_ms": "ms",
    "plans.executor.build_py_cpu_ms": "ms",
    "plans.executor.build_jobs": "count",
    "operators.build_ms": "ms", "operators.build_jobs": "count",
    "operators.jobs_per_superstep": "count",
    "pipeline.build_ms": "ms", "pipeline.build_jobs": "count",
    "spark.catalyst.plan_ms": "ms", "spark.exec.action_ms": "ms",
    "spark.exec.jobs": "count", "spark.exec.stages": "count",
    "spark.exec.tasks": "count", "spark.exec.executor_run_ms": "ms",
    "spark.exec.gc_ms": "ms", "spark.exec.shuffle_read_bytes": "B",
    "spark.exec.shuffle_write_bytes": "B", "spark.exec.spill_bytes": "B",
    "spark.exec.slot_util": "ratio",
    "spark.exec.rows_read_per_row_returned": "ratio",
    "mutate.table_bytes_written": "B", "mutate.write_amplification": "ratio",
    "trace.overhead_ms": "ms",
}


# -- host facts ---------------------------------------------------------------

def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def mem_total_kb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return 0


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def steal_pct(t0: list[int], t1: list[int]) -> float:
    """CPU steal share over the run (the 8th field of /proc/stat's cpu line)."""
    d = [b - a for a, b in zip(t0, t1)]
    return 100.0 * d[7] / sum(d) if len(d) > 7 and sum(d) else 0.0


# -- the run ------------------------------------------------------------------

def isolate(run_dir: Path) -> dict:
    """Point every temp and scratch location into the run directory."""
    tmp = run_dir / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # every JVM spark-submit starts, its launcher included
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    import tempfile
    tempfile.tempdir = None
    return {"spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.ui.showConsoleProgress": "false"}


class Loop:
    """Closed loop: runs rounds of ops and records each op."""

    def __init__(self, wl):
        self.wl = wl
        self.next_round = 0
        self.records: list[dict] = []

    def run_round(self, tr, timed: bool) -> None:
        for op in self.wl.rounds[self.next_round]:
            tr.start_op()
            t0 = time.perf_counter()
            try:
                res = self.wl.run_op(op, tr)
                tr.collect()
            except Exception as ex:  # an op that raises counts as failed
                print(f"perfbench: {op.template} raised {type(ex).__name__}: "
                      f"{str(ex).splitlines()[0] if str(ex) else ''}",
                      file=sys.stderr)
                res = None
            self.records.append({
                "op": op, "result": res, "timed": timed,
                "traced": tr.enabled, "trace_id": tr.op,
                "ms": (time.perf_counter() - t0) * 1e3})
        self.next_round += 1

    def run_for(self, tr, seconds: float, min_rounds: int) -> list[float]:
        """Whole rounds until ``seconds`` have passed and ``min_rounds``
        have run; each round's rate (its ops ÷ its wall time, per second)."""
        t0, rates = time.perf_counter(), []
        while True:
            t1 = time.perf_counter()
            self.run_round(tr, timed=True)
            t2 = time.perf_counter()
            rates.append(len(self.wl.rounds[self.next_round - 1]) / (t2 - t1))
            if t2 - t0 >= seconds and len(rates) >= min_rounds:
                return rates


def template_p50_ms(recs: list[dict]) -> float:
    """Each read template's median latency, averaged over the templates.

    A plain median over a mix of cheap and dear templates lands in the
    tail of one of them (on dml_mixed, LOOKUP ~0.2 s against GO and MATCH
    ~0.7 s puts it on the lower quartile of GO and MATCH), where a single
    op moves it."""
    by: dict[str, list[float]] = {}
    for r in recs:
        if r["op"].kind == "read":
            by.setdefault(r["op"].template, []).append(r["ms"])
    return statistics.fmean(statistics.median(v) for v in by.values())


def layer_metrics(wl, tr, recs: list[dict], cores: int) -> dict:
    """Per-op layer figures of the traced ops: times as the median over
    ops, counts and bytes as the mean per op, rows read per row returned
    as a ratio of the sums."""
    per_op = []
    for r in recs:
        spans = tr.op_spans(r["trace_id"])
        by = {}
        for s in spans:
            by.setdefault(s.layer.rsplit(".", 1)[0] if s.layer.startswith(
                "operators.build.") else s.layer, []).append(s)

        def wall(layer):
            return sum(s.wall_ms for s in by.get(layer, []))

        def jobs(layer):
            return sum(s.jobs for s in by.get(layer, []))

        parse_ms = wall("plans.ngql.parse")
        build = by.get("plans.executor.build", [])
        stats = {k: sum(s.stats.get(k, 0) for s in spans)
                 for k in ("executor_run_ms", "gc_ms", "shuffle_read_bytes",
                           "shuffle_write_bytes", "spill_bytes", "rows_read")}
        step_jobs = sum(s.jobs for s in spans
                        if s.parent in {p.group for p in spans
                                        if p.layer in ("call.pagerank",
                                                       "call.bfs")})
        rows = wl.rows_returned(r["result"]) if r["result"] is not None else 0
        per_op.append({
            "plans.ngql.parse_ms": parse_ms,
            "plans.executor.build_ms": wall("plans.executor.build") - parse_ms
            if build else 0.0,
            "plans.executor.build_py_cpu_ms":
                sum(s.cpu_ms for s in build)
                - sum(s.cpu_ms for s in by.get("plans.ngql.parse", []))
                if build else 0.0,
            "plans.executor.build_jobs": jobs("plans.executor.build"),
            "operators.build_ms": wall("operators.build"),
            "operators.build_jobs": jobs("operators.build"),
            "operators.jobs_per_superstep":
                step_jobs / (datagen.PAGERANK_ITERS + datagen.BFS_HOPS)
                if "operators.build" in by else 0.0,
            "pipeline.build_ms": wall("pipeline.build"),
            "pipeline.build_jobs": jobs("pipeline.build"),
            "spark.catalyst.plan_ms": wall("spark.catalyst.plan"),
            "spark.exec.action_ms": wall("spark.exec.action"),
            "spark.exec.jobs": sum(s.jobs for s in spans),
            "spark.exec.stages": sum(s.stages for s in spans),
            "spark.exec.tasks": sum(s.tasks for s in spans),
            "spark.exec.executor_run_ms": stats["executor_run_ms"],
            "spark.exec.gc_ms": stats["gc_ms"],
            "spark.exec.shuffle_read_bytes": stats["shuffle_read_bytes"],
            "spark.exec.shuffle_write_bytes": stats["shuffle_write_bytes"],
            "spark.exec.spill_bytes": stats["spill_bytes"],
            "spark.exec.slot_util": stats["executor_run_ms"]
            / (r["ms"] * cores),
            "rows_read": stats["rows_read"],
            "rows_returned": rows,
        })
    out = {}
    for k in per_op[0]:
        vals = [p[k] for p in per_op]
        out[k] = (statistics.median(vals) if k.endswith("_ms")
                  else statistics.fmean(vals))
    read, returned = out.pop("rows_read"), out.pop("rows_returned")
    out["spark.exec.rows_read_per_row_returned"] = \
        read / returned if returned else 0.0
    return out


def mutate_metrics(wl, recs_all: list[dict]) -> dict:
    """Bytes of table files each traced write committed, and those bytes
    over the on-disk bytes of the rows the statement changed."""
    writes = getattr(wl, "writes", {})
    new_b, changed_b, n = 0.0, 0.0, 0
    for r, changed in zip(recs_all, getattr(wl, "changed", [])):
        w = writes.get(r["trace_id"]) if r["traced"] else None
        if w is None or changed is None:
            continue
        n += 1
        for t, (rows_changed, rows_after) in changed.items():
            new, total = w[t]
            changed_b += rows_changed * total / max(rows_after, 1)
        new_b += sum(new for new, _ in w.values())
    return {"mutate.table_bytes_written": new_b / n if n else 0.0,
            "mutate.write_amplification": new_b / changed_b if changed_b
            else 0.0}


def shutdown(spark) -> None:
    """Stop Spark and the JVM it launched, and wait for the JVM to end."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    load0, cpu0 = os.getloadavg()[0], cpu_times()
    sys.path.insert(0, str(ROOT))
    try:
        import nebula_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: cannot import the engine from {ROOT}: {ex}",
              file=sys.stderr)
        return 2
    if a.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {a.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    run_dir = datagen.WORK / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    confs = isolate(run_dir)
    spark = None
    try:
        from nebula_spark.session import get_spark
        base = datagen.base_tables()
        wl = WORKLOADS[a.workload](base, a.seed, run_dir, ROUNDS)
        wl.prepare()

        # set-up, several times: a fresh session (the first launches the
        # JVM) and the workload's binding; then the warm-up rounds
        starts, binds, sessions = [], [], []
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
            t0 = time.perf_counter()
            spark = get_spark("perfbench", **confs)
            spark.sparkContext.setLogLevel("ERROR")
            starts.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.bind(spark)
            binds.append(time.perf_counter() - t0)
            sessions.append(spark)  # keeps id(session) unique for caches
        loop = Loop(wl)
        off = Tracer(spark, False)
        t0 = time.perf_counter()
        for _ in range(wl.warmup_rounds):
            loop.run_round(off, timed=False)
        warmup_s = time.perf_counter() - t0
        setup_s = statistics.median(s + b for s, b in zip(starts, binds)) \
            + warmup_s

        rates = loop.run_for(off, a.seconds, MIN_ROUNDS)
        if a.trace:
            on = Tracer(spark, True)
            # half as long: the per-layer split needs fewer ops, and a
            # traced run must still end well within its time limit
            loop.run_for(on, a.seconds / 2, 1)
        rss_mb = (vm_hwm_kb(spark.sparkContext._gateway.proc.pid)
                  + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024
        cores = spark.sparkContext.defaultParallelism

        # output checks, outside the loop and outside set-up
        verdicts = wl.check([(r["op"], r["result"]) for r in loop.records])
        for r, ok in zip(loop.records, verdicts):
            r["ok"] = ok
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    timed = [r for r in loop.records if r["timed"] and not r["traced"]]
    # every timed op of the run, traced or not, counts for correctness
    attempted = sum(r["timed"] for r in loop.records)
    failed = sum(r["timed"] and not r["ok"] for r in loop.records)
    lat_kind = [r["ms"] for r in timed if r["op"].kind == "read"]
    writes = [r["ms"] for r in timed if r["op"].kind == "write"]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": template_p50_ms(timed),
        "ops_per_s": statistics.median(rates),
    }
    extra = {"error_rate": failed / attempted, "peak_rss_mb": rss_mb}
    if writes:
        extra["write_latency_p50_ms"] = statistics.median(writes)
    if len(lat_kind) >= 100:
        extra["latency_p90_ms"] = statistics.quantiles(lat_kind, n=10)[8]
    units = dict(END_TO_END, error_rate="ratio", write_latency_p50_ms="ms",
                 latency_p90_ms="ms", peak_rss_mb="MB")

    if a.trace:
        traced = [r for r in loop.records if r["traced"]]
        layers = layer_metrics(wl, on, traced, cores)
        layers.update(mutate_metrics(wl, loop.records))
        layers["session.start_s"] = statistics.median(starts)
        layers["catalog.bind_s"] = statistics.median(binds)
        layers["warmup_s"] = warmup_s
        layers["process.peak_rss_mb"] = rss_mb
        layers["trace.overhead_ms"] = (template_p50_ms(traced)
                                       - template_p50_ms(timed))
        metrics = {k: {"value": layers[k], "unit": u}
                   for k, u in PER_LAYER.items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in e2e.items()}

    per_template = {}
    for r in timed:
        per_template.setdefault(r["op"].template, []).append(r)
    per_template = {t: {"ops": len(rs), "failed": sum(not r["ok"] for r in rs),
                        "p50_ms": statistics.median(r["ms"] for r in rs)}
                    for t, rs in per_template.items()}
    detail = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds,
        "loop": "closed, 1 client", "ops_timed": len(timed),
        "round_ops_per_s": rates,
        "templates": per_template,
        "setup_samples_s": {"session_start": starts, "bind": binds,
                            "warmup": warmup_s},
        "host": {"nproc": len(os.sched_getaffinity(0)),
                 "mem_total_kb": mem_total_kb(),
                 "load_1m_before": load0, "load_1m_after": os.getloadavg()[0],
                 "cpu_steal_pct": steal_pct(cpu0, cpu_times())},
    }
    for k, v in {**e2e, **extra}.items():
        print(f"{k:>24} {v:14.4f} {units[k]}")
    if a.trace:
        for k, u in PER_LAYER.items():
            print(f"{k:>40} {metrics[k]['value']:16.4f} {u}")
    print("detail " + json.dumps(detail, sort_keys=True))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
