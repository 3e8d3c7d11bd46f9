"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload serve --seed 1 --seconds 10 --trace 0

Run from a checkout of the repository.  The workload is set up (Spark
session, catalog, inputs made from ``--seed``), then whole rounds of its
fixed operation sequence run until ``--seconds`` of operation time have
passed.  Every reply is checked against an independent oracle.  Human
readable lines start with ``#``; the last line is one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.
"""

from __future__ import annotations

import argparse
import importlib
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import tempfile
import subprocess
import time
import traceback
from dataclasses import dataclass

import spec
from cputime import tree_cpu_s
from sparkwork import Recorder, Span, SparkWork
from workloads import FAULT, WORKLOADS, WRONG

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "distributed_graph_database_simulation_with_load_balancing_and_threaded_request_handling__spark"
TREE_DIR = os.path.join(ROOT, "tests", "data", "assignment_trees")
# One thread count for every workload: local[2] measured no slower than
# local[4] on serve on a 4-core machine, and leaves cores for the Spark driver.
SPARK_THREADS = min(2, os.cpu_count() or 1)
ERROR = "error"


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=("serve", "analytics"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def prepare_env(tmp: str) -> None:
    """Keep every file Spark, the JVM and Python write under ``tmp``."""
    sys_tmp = os.path.join(tmp, "tmp")
    os.makedirs(sys_tmp)
    os.environ["TMPDIR"] = sys_tmp
    tempfile.tempdir = sys_tmp
    # Keep the JIT compiler threads alive, so cputime can count their time apart.
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={sys_tmp} -XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_THREADS)
    os.environ["SPARK_DRIVER_MEMORY"] = "2g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    confs = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    args = [tok for k, v in confs.items() for tok in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class Engine:
    """The package modules the workloads call."""

    def __init__(self):
        def mod(name):
            return importlib.import_module(f"{PKG}.{name}")

        self.session = mod("session")
        self.matrix_io = mod("sources.matrix_io")
        self.catalog = mod("operators.catalog")
        self.dispatch = mod("operators.dispatch")
        self.traverse = mod("operators.traverse")
        self.graphalgs = mod("operators.graphalgs")
        self.streaming = mod("streaming.requests")
        self.loop_stats = mod("operators.loopstats").LOOP_STATS


@dataclass
class OpRecord:
    kind: str
    verdict: str
    span: Span  # the whole op
    calls: list[Span]  # the layer calls inside it (traced runs only)
    loops: dict  # LOOP_STATS after the op

    def call(self, name: str) -> Span | None:
        return next((c for c in self.calls if c.name == name), None)


class Runner:
    def __init__(self, eng, rec):
        self.eng, self.rec = eng, rec
        self.records: list[OpRecord] = []
        self.excluded = 0.0  # seconds spent checking and tracing between ops
        self.correct = True

    def execute(self, op) -> None:
        self.eng.loop_stats.clear()
        err = None
        with self.rec.op(op.kind) as holder:
            try:
                value = op.run()
            except Exception:  # an op that raises is counted as failed
                err = traceback.format_exc()
        c0 = time.perf_counter()
        span = holder[0]
        loops = {k: dict(v) for k, v in self.eng.loop_stats.items()}
        calls = [s for s in self.rec.pending if s is not span]
        if err:
            verdict = ERROR
            print(f"# {op.kind} op raised:\n" + "".join(f"#   {ln}\n" for ln in err.splitlines()), end="")
        else:
            verdict = op.check(value)
            if verdict == WRONG:
                self.correct = False
                print(f"# {op.kind} op: WRONG reply {str(value)[:200]!r}")
        self.rec.resolve()
        self.records.append(OpRecord(op.kind, verdict, span, calls, loops))
        self.excluded += time.perf_counter() - c0

    def checked(self, ok: bool, what: str) -> None:
        if not ok:
            self.correct = False
            print(f"# WRONG: {what}")


def median(xs):
    xs = [x for x in xs if x is not None]
    return statistics.median(xs) if xs else 0


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(statistics.fmean(math.log(x) for x in xs)) if xs else 0.0


def end_to_end(wl, runner, setup_cpu_s):
    """The end-to-end metrics (CPU time, see cputime.py), and per op kind
    the median wall and CPU milliseconds and the sample count."""
    timed = [r for r in runner.records if r.verdict != ERROR]
    per_kind = {k: [r.span for r in timed if r.kind == k] for k in wl.kinds}
    p50 = {
        k: (statistics.median(s.ms for s in v), statistics.median(s.cpu_s * 1000.0 for s in v), len(v))
        for k, v in per_kind.items() if v
    }
    cpu_s = sum(r.span.cpu_s for r in runner.records)
    metrics = {
        "setup_s": setup_cpu_s,
        "ops_per_cpu_s": len(runner.records) / cpu_s,
        "cpu_p50_geomean_ms": geomean(c for _, c, _ in p50.values()),
    }
    return metrics, p50


def per_layer(runner, rec, start_s, parse_ms):
    recs = runner.records
    m = {"session.start_s": start_s, "matrix_io.parse_ms": parse_ms}
    for metric, (name, kind) in spec.CALL_MS.items():
        m[metric] = median(s.ms for s in rec.spans if s.name == name and kind in (None, s.kind))
    writes = [s for s in rec.spans if s.name in ("catalog.add_graph", "catalog.modify_graph")]
    m["catalog.write_jobs"] = median(s.spark["jobs"] for s in writes)
    streams = [s for s in rec.spans if s.name == "streaming.serve_requests_available_now"]
    m["streaming.micro_batches"] = median(s.spark["micro_batches"] for s in streams)
    for kind, (key, count, call) in spec.LOOPS.items():
        steps, per_step = [], []
        for r in recs:
            n = r.loops.get(key, {}).get(count) if r.kind == kind else None
            if n:
                steps.append(n)
                per_step.append(r.call(call).spark["jobs"] / n)
        m[f"{kind}.traverse.supersteps"] = median(steps)
        m[f"{kind}.traverse.jobs_per_superstep"] = median(per_step)
    for metric, (kind, key, count) in spec.ROUNDS.items():
        m[metric] = median(r.loops.get(key, {}).get(count) for r in recs if r.kind == kind)
    for kind in spec.KINDS:
        ops = [r.span.spark for r in recs if r.kind == kind]
        for f in spec.SPARK_FIELDS:
            m[f"{kind}.spark.{f}"] = median(s[f] for s in ops)
    return m


def layer_table(wl, runner) -> list[str]:
    """Per-kind table of layer calls, kinds ranked by the share of their
    wall time that falls between Spark jobs."""
    rows = []
    for kind in wl.kinds:
        recs = [r for r in runner.records if r.kind == kind]
        if not recs:
            continue
        wall = median(r.span.ms for r in recs)
        idle = median(r.span.spark["between_jobs_ms"] for r in recs)
        rows.append((idle / wall if wall else 0.0, kind, recs, wall))
    rows.sort(key=lambda t: (-t[0], t[1]))
    hdr = ("call", "n", "p50_ms") + spec.SPARK_FIELDS
    out = ["# per-layer medians per op, kinds ranked by share of wall time between Spark jobs"]
    for share, kind, recs, wall in rows:
        out.append(f"# {kind}: p50 {wall:.1f} ms, {share:.1%} between jobs")
        out.append("#   " + " ".join(f"{h:>15}" if i else f"{h:<40}" for i, h in enumerate(hdr)))
        names = ["op"] + sorted({c.name for r in recs for c in r.calls})
        for name in names:
            spans = [r.span if name == "op" else r.call(name) for r in recs]
            spans = [s for s in spans if s is not None]
            cells = [name, len(spans), median(s.ms for s in spans)]
            cells += [median(s.spark[f] for s in spans) for f in spec.SPARK_FIELDS]
            out.append("#   " + " ".join(
                f"{c:<40}" if i == 0 else (f"{c:>15.1f}" if isinstance(c, float) else f"{c:>15}")
                for i, c in enumerate(cells)))
    return out


def stop_spark(spark) -> None:
    """Stop Spark and wait for the JVM it started to exit."""
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    spark.stop()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def bench(args, tmp: str, t_start: float) -> dict:
    prepare_env(tmp)
    sys.path.insert(0, ROOT)
    eng = Engine()
    t0 = time.perf_counter()
    # A SIGTERM while the JVM starts would leave it running: hold the
    # signal until ``spark`` exists and the ``finally`` below stops it.
    signal.pthread_sigmask(signal.SIG_BLOCK, {signal.SIGTERM})
    spark = eng.session.get_spark(f"perfbench-{args.workload}")
    start_s = time.perf_counter() - t0
    try:
        signal.pthread_sigmask(signal.SIG_UNBLOCK, {signal.SIGTERM})
        spark.sparkContext.setLogLevel("ERROR")
        rec = Recorder(SparkWork(spark) if args.trace else None)
        runner = Runner(eng, rec)
        wl = WORKLOADS[args.workload](eng, spark, rec, args.seed, tmp, TREE_DIR)
        wl.setup()
        setup_s = time.perf_counter() - t_start
        cpu, jit0 = tree_cpu_s()
        setup_cpu_s = cpu - jit0
        c0 = time.perf_counter()
        runner.checked(wl.catalog_ok(), "catalog read-back after set-up")
        rec.resolve()
        runner.excluded += time.perf_counter() - c0

        loop_t0, excluded0, rounds = time.perf_counter(), runner.excluded, 0
        while rounds == 0 or (
            time.perf_counter() - loop_t0 - (runner.excluded - excluded0) < args.seconds
        ):
            c0 = time.perf_counter()
            ops = wl.round_ops(rounds)
            runner.excluded += time.perf_counter() - c0
            for op in ops:
                runner.execute(op)
            rounds += 1
        wall_s = time.perf_counter() - loop_t0 - (runner.excluded - excluded0)

        e2e, p50 = end_to_end(wl, runner, setup_cpu_s)
        failed = sum(r.verdict in (FAULT, ERROR) for r in runner.records)
        lines = [
            f"# perfbench {args.workload} seed={args.seed} seconds={args.seconds:g} "
            f"trace={args.trace} spark=local[{SPARK_THREADS}] rounds={rounds}",
            f"# ops attempted={len(runner.records)} failed={failed} correct={str(runner.correct).lower()}",
        ]
        lines += [f"# {k} = {e2e[k]:.6g} {u}" for k, u in spec.END_TO_END]
        lines += [
            f"# wall: setup {setup_s:.2f} s, ops {wall_s:.2f} s, "
            f"{len(runner.records) / wall_s:.4g} ops/s, "
            f"p50 geomean {geomean(w for w, _, _ in p50.values()):.1f} ms",
            f"# JIT compiler cpu (not counted above): setup {jit0:.2f} s, "
            f"after {tree_cpu_s()[1] - jit0:.2f} s",
        ]
        lines += [f"# {k}_p50: wall {w:.1f} ms, cpu {c:.1f} ms (n={n})" for k, (w, c, n) in p50.items()]
        if args.trace:
            metrics = per_layer(runner, rec, start_s, wl.parse_ms)
            lines += layer_table(wl, runner)
        else:
            metrics = e2e
        print("\n".join(lines), flush=True)
        return {"correct": runner.correct, "attempted": len(runner.records), "failed": failed,
                "metrics": metrics}
    finally:
        stop_spark(spark)


def main(argv=None) -> int:
    t_start = time.perf_counter()
    # A terminated run still stops Spark and removes its files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = parse_args(argv)
    missing = [p for p in (os.path.join(ROOT, PKG), TREE_DIR) if not os.path.isdir(p)]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2
    base = os.path.join(ROOT, ".perfbench_tmp")
    os.makedirs(base, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=base)
    try:
        result = bench(args, tmp, t_start)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:
            pass  # another run still uses it
    names = spec.per_layer() if args.trace else spec.END_TO_END
    result["metrics"] = {n: {"value": result["metrics"][n], "unit": u} for n, u in names}
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
