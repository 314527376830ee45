"""Product-path benchmark of transcripts -> canonical knowledge graph.

Usage, from the root of a checkout:

    python3 kgbench/run.py --workload kg_batch --seed 1 --seconds 40 --trace 0

Each run is one fresh process on ``local[<cpus>]``.  It generates the
workload's inputs from ``--seed`` into its own working directory
(``.kgbench_work/`` in the checkout, removed on exit), builds the Spark
session (``setup_s``) and times the first product pass of the process,
as a submitted job runs it.  At this input size one pass takes longer
than ``--seconds``; a note is printed when it does not.  Every pass is
checked against an oracle that does not use Spark.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on the
Spark event log and runs the same first pass one layer at a time, each
layer's public function under its own Spark job group with its output
materialized, and prints per-layer metrics folded from the event log.
Its ``trace.job_s`` less the ``job_s`` of an untraced run of the same
seed is the tracing overhead.

A table for people goes to standard output first; the last line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "neo4j_graphrag_python_spark"

#: layers of the traced pass, in pipeline order
LAYERS = (
    "assemble",
    "split",
    "checkpoint",
    "extract",
    "lexical",
    "prune",
    "resolve_exact",
    "triples",
    "fuzzy.block",
    "fuzzy.prefilter",
    "fuzzy.score",
    "fuzzy.components",
    "fuzzy.merge",
    "incremental",
)
#: per-layer metrics folded from Spark task metrics
FOLDED = ("exec_cpu_s", "shuffle_bytes", "spill_bytes", "task_skew")
#: per-layer counters the traced pass returns
COUNTERS = (
    "extract.rows_out",
    "extract.rows_error",
    "resolve_exact.mentions_in",
    "resolve_exact.canonical_out",
    "fuzzy.block.pairs",
    "fuzzy.prefilter.keep_ratio",
    "fuzzy.match_ratio",
    "incremental.exact_adopted",
    "incremental.new_canonicals",
)
UNITS = {
    "wall_s": "s",
    "py_cpu_s": "s",
    "exec_cpu_s": "s",
    "shuffle_bytes": "bytes",
    "spill_bytes": "bytes",
    "bytes_written": "bytes",
    "task_skew": "ratio",
    "keep_ratio": "ratio",
    "match_ratio": "ratio",
    "job_s": "s",
}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 1]."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


class Run:
    """One benchmark process: session, passes, checks and clean-up."""

    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        from workloads import WORKLOADS

        self.args = args
        self.work = work
        self.workload = WORKLOADS[args.workload](work, args.seed)
        self.attempted = 0
        self.failed = 0
        self.gc_log = work / "gc.log"

    def log(self, line: str) -> None:
        print(line, flush=True)

    def check(self, label: str, out) -> bool:
        problems = self.workload.check(out)
        self.log(f"  [{label}] {self.workload.summary(out)}")
        self.attempted += 1
        if problems:
            self.failed += 1
            for p in problems:
                self.log(f"  CHECK FAILED [{label}] {p}")
        return not problems

    def guarded_pass(self, label: str, fn):
        """Run and check one pass; an exception counts as a failed pass."""
        try:
            out = fn()
        except Exception:  # noqa: BLE001 - a failed pass must not end the run
            traceback.print_exc()
            self.attempted += 1
            self.failed += 1
            self.log(f"  PASS FAILED [{label}] (traceback on stderr)")
            return None
        self.check(label, out)
        return out

    def build_session(self, extra: dict[str, str]):
        from neo4j_graphrag_python_spark.session import build_spark

        tmp = self.work / "tmp"
        conf = {
            # a cap, not a size: the heap grows as G1 sees fit, as it does
            # for users; the library's 16g default does not fit small hosts
            "spark.driver.memory": "2g",
            "spark.local.dir": str(tmp),
            # no hsperfdata files: the JVM writes them to /tmp regardless;
            # the GC log gives peak_mem_mb its heap part
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xlog:gc:file={self.gc_log}"
            ),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        conf.update(extra)
        spark = build_spark(
            app_name=f"kgbench-{self.args.workload}",
            master=f"local[{cpu_count()}]",
            extra_conf=conf,
        )
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def execute(self) -> dict:
        from spans import (
            Meter,
            PeakWorkerMemory,
            ProcessTree,
            event_log_conf,
            peak_heap_after_gc_mb,
        )

        w, args = self.workload, self.args
        t0 = time.perf_counter()
        w.make_inputs()
        gen_s = time.perf_counter() - t0
        self.log(
            f"workload {w.name}  seed {args.seed}  cpus {cpu_count()}  "
            f"input rows {w.n_turns}  oracle items {len(w.expected)}  "
            f"inputs generated in {gen_s:.2f} s (not in setup_s)"
        )
        log_dir = self.work / "eventlog"
        extra = {}
        if args.trace:
            log_dir.mkdir(parents=True)
            extra = event_log_conf(log_dir)

        proc = ProcessTree()
        meter = Meter(proc)
        t0 = time.perf_counter()
        spark = self.build_session(extra)
        setup_s = time.perf_counter() - t0
        self.log(f"setup: session built in {setup_s:.3f} s")
        try:
            if args.trace:
                metrics = self.traced(spark, proc)
            else:
                with PeakWorkerMemory(proc) as workers:
                    metrics = self.timed(spark, meter)
                metrics["setup_s"] = setup_s
        finally:
            stop_spark(spark, proc)
        if args.trace:
            metrics.update(self.fold(log_dir))
        else:
            # read once the JVM has exited and flushed its log
            heap = peak_heap_after_gc_mb(self.gc_log)
            self.log(
                f"memory: heap after GC {heap:.1f} MB peak, "
                f"Python workers {workers.peak_mb:.1f} MB peak PSS"
            )
            metrics["peak_mem_mb"] = heap + workers.peak_mb
        return metrics

    def timed(self, spark, meter) -> dict:
        """Time the first product pass of the process: the job a user
        submits runs exactly once, so it pays every cold cost."""
        from spans import steal_seconds
        from workloads import PassOutput

        w = self.workload
        load = os.getloadavg()[0]
        steal0 = steal_seconds()
        t0 = time.perf_counter()
        out = self.guarded_pass(
            "pass", lambda: w.run_pass(spark, f"{os.getpid()}_p0", meter)
        )
        if out is None:
            # the wall until the failure, so every metric stays defined
            out = PassOutput(batch_s=[time.perf_counter() - t0], batch_cpu_s=[0.0])
        job = sum(out.batch_s)
        self.log(
            f"pass: loadavg1 {load:.2f}  cpu steal {steal_seconds() - steal0:.2f} s  "
            f"job {job:.3f} s  "
            f"cpu {sum(out.batch_cpu_s):.2f} s  "
            f"batches {[round(b, 3) for b in out.batch_s]}"
        )
        if job < self.args.seconds:
            self.log(f"  note: the pass took less than --seconds {self.args.seconds}")
        return {
            "job_s": job,
            "cpu_s": sum(out.batch_cpu_s),
            "turns_per_s": w.n_turns / job,
            "batch_s_p50": percentile(out.batch_s, 0.5),
            "batch_s_p90": percentile(out.batch_s, 0.9),
        }

    def traced(self, spark, proc) -> dict:
        """The first pass again, one layer at a time.  Its wall time less
        the ``job_s`` of an untraced run of the same seed is the tracing
        overhead (event log, job groups and per-layer materialization)."""
        from spans import Tracer

        w = self.workload
        tracer = self.tracer = Tracer(spark, proc)
        self.log(f"traced pass: loadavg1 {os.getloadavg()[0]:.2f}")
        t0 = time.perf_counter()
        traced = self.guarded_pass(
            "traced", lambda: w.traced_pass(spark, tracer, f"{os.getpid()}_traced")
        )
        traced_s = time.perf_counter() - t0
        self.log(
            f"traced pass {traced_s:.3f} s; tracing overhead = trace.job_s "
            f"- job_s of an untraced run (--trace 0) of the same seed"
        )
        metrics = {"trace.job_s": traced_s}
        counters = traced.counters if traced else {}
        for name in COUNTERS:
            metrics[name] = float(counters.get(name, 0.0))
        return metrics

    def fold(self, log_dir: Path) -> dict:
        from spans import fold_event_log

        folded = fold_event_log(log_dir)
        metrics = {}
        for layer in LAYERS:
            m = folded.get(layer, {})
            metrics[f"{layer}.wall_s"] = self.tracer.wall.get(layer, 0.0)
            metrics[f"{layer}.py_cpu_s"] = self.tracer.py_cpu.get(layer, 0.0)
            for key in FOLDED:
                metrics[f"{layer}.{key}"] = float(m.get(key, 0.0))
        metrics["checkpoint.bytes_written"] = float(
            folded.get("checkpoint", {}).get("bytes_written", 0.0)
        )
        return metrics


def stop_spark(spark, proc) -> None:
    """Stop the session, then the JVM, and wait until every process the
    run started has ended."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    jvm = gateway.proc
    gateway.shutdown()
    # the gateway JVM exits when its stdin closes
    jvm.stdin.close()
    try:
        jvm.wait(timeout=30)
    except subprocess.TimeoutExpired:
        jvm.kill()
        jvm.wait()
    # Python workers outlive the JVM by a moment; kill any that linger
    deadline = time.monotonic() + 20
    while proc.jvm_pids() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in proc.jvm_pids():
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    SparkContext._gateway = None
    SparkContext._jvm = None


def unit_of(name: str, trace: bool) -> str:
    if not trace:
        return {
            "job_s": "s",
            "cpu_s": "s",
            "turns_per_s": "1/s",
            "batch_s_p50": "s",
            "batch_s_p90": "s",
            "setup_s": "s",
            "peak_mem_mb": "MB",
            "ok_ratio": "ratio",
        }[name]
    return UNITS.get(name.rsplit(".", 1)[1], "count")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PACKAGE).is_dir():
        print(f"{PACKAGE}/ not found under {ROOT}: run from a checkout", file=sys.stderr)
        return 2
    work = ROOT / ".kgbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # set before anything imports pyspark: Python workers import the
    # package, and temp files stay in the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = str(work / "tmp")
    # the short-lived JVM spark-submit runs to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    sys.path[:0] = [str(Path(__file__).resolve().parent), str(ROOT)]
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}: {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        run = Run(args, work)
        metrics = run.execute()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            (ROOT / ".kgbench_work").rmdir()
        except OSError:
            pass  # another run's directory is still there
    if not args.trace:
        metrics["ok_ratio"] = (run.attempted - run.failed) / run.attempted
    for name, value in metrics.items():
        print(f"  {name:34s} {value:14.6g} {unit_of(name, bool(args.trace))}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {
            k: {"value": v, "unit": unit_of(k, bool(args.trace))}
            for k, v in metrics.items()
        },
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
