"""Measurement from outside the library: process-tree CPU and memory
read from ``/proc``, and per-layer Spark task metrics folded from the
event log by the job group the benchmark sets around each layer call.

Nothing here reaches into ``neo4j_graphrag_python_spark``: a layer is
whatever the caller runs inside ``Tracer.layer(name)``.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from pathlib import Path

_CLK_TCK = os.sysconf("SC_CLK_TCK")

#: job group for Spark jobs the benchmark runs outside any layer
#: (counters, correctness checks); folded metrics ignore it
UNTRACED_GROUP = "kgbench.untraced"


# ---------------------------------------------------------------------------
# /proc readings
# ---------------------------------------------------------------------------


def _stat_fields(pid: int | str) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
    except OSError:
        return None
    # the command name may hold spaces and parens: split after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _children() -> dict[int, list[int]]:
    children: dict[int, list[int]] = defaultdict(list)
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            fields = _stat_fields(int(entry))
            if fields is not None:
                children[int(fields[1])].append(int(entry))
    return children


def _is_python(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/comm") as fh:
            return fh.read().startswith("python")
    except OSError:
        return False


def _descendants(children: dict[int, list[int]], root: int) -> list[int]:
    """``root`` and all its live descendants."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus that of its reaped children, so
    a worker that exited during the interval is still counted once."""
    ticks = 0
    for pid in pids:
        fields = _stat_fields(pid)
        if fields is not None:
            ticks += sum(int(f) for f in fields[11:15])
    return ticks / _CLK_TCK


def steal_seconds() -> float:
    """CPU time the hypervisor gave to other guests, summed over CPUs: in
    a virtual machine, load that ``loadavg`` cannot see."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK_TCK


def pss_mb(pids: list[int]) -> float:
    """Summed proportional set size of ``pids``: forked Python workers
    share pages with their daemon, and PSS counts a shared page once
    across them, where summed resident sets would count it per process."""
    kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return kb / 1024.0


def thread_cpu_seconds(tid: int) -> float:
    """utime + stime of one thread of this process."""
    fields = _stat_fields(f"self/task/{tid}")
    return (int(fields[11]) + int(fields[12])) / _CLK_TCK if fields else 0.0


class ProcessTree:
    """CPU and memory of the benchmark process and everything it started:
    the Spark JVM (its only child), and below the JVM the PySpark daemon
    and its Python workers.

    CPU of the benchmark's own sampler thread (``exclude``) is left out of
    the total, so that measuring does not count as the program's work.
    """

    def __init__(self) -> None:
        self.root = os.getpid()
        self.excluded: list[int] = []

    def _split(self) -> tuple[list[int], list[int]]:
        """The JVM and all its descendants; and of those, the Python ones.
        The JVM also runs short shell commands (Hadoop sets local file
        permissions through them), and one caught between its fork and
        its exec still maps the JVM's memory, so it is not a worker."""
        children = _children()
        direct = children.get(self.root, [])
        jvm = [p for child in direct for p in _descendants(children, child)]
        return jvm, [p for p in jvm if p not in direct and _is_python(p)]

    def exclude(self, tid: int) -> None:
        self.excluded.append(tid)

    def snapshot(self) -> dict[str, float]:
        jvm, workers = self._split()
        driver = cpu_seconds([self.root]) - sum(
            thread_cpu_seconds(t) for t in self.excluded
        )
        return {
            "total": driver + cpu_seconds(jvm),
            "python_workers": cpu_seconds(workers),
        }

    def jvm_pids(self) -> list[int]:
        return self._split()[0]

    def worker_pids(self) -> list[int]:
        return self._split()[1]


class PeakWorkerMemory:
    """Largest summed PSS of the Python workers (and the PySpark daemon)
    seen while the block runs, sampled every ``interval`` seconds on a
    thread (workers come and go, so summing per-process peaks would
    overstate).  The thread's own CPU is excluded from ``proc``'s total;
    it must run until the last CPU snapshot has been taken."""

    def __init__(self, proc: ProcessTree, interval: float = 0.2) -> None:
        self.proc = proc
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._started = threading.Event()
        self._thread = threading.Thread(target=self._sample, daemon=True)

    def _sample(self) -> None:
        self.proc.exclude(threading.get_native_id())
        self._started.set()
        while True:
            self.peak_mb = max(self.peak_mb, pss_mb(self.proc.worker_pids()))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PeakWorkerMemory":
        self._thread.start()
        self._started.wait()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


#: a G1 unified-logging ``gc`` line of a pause that evacuates or compacts:
#: ``GC(7) Pause Young (Normal) (G1 Evacuation Pause) 512M->123M(2048M) 4.2ms``.
#: Remark and Cleanup pauses free no young regions, so the heap after them
#: still holds all of eden.
_GC_HEAP = re.compile(
    r"Pause (?:Young|Full)\b.* (\d+)([KMG])->(\d+)([KMG])\((\d+)([KMG])\)"
)
_MB = {"K": 1 / 1024, "M": 1.0, "G": 1024.0}


def peak_heap_after_gc_mb(path: Path) -> float:
    """Largest heap in use right after an evacuating or full collection,
    read from the JVM's ``-Xlog:gc`` log at ``path``: the live data the
    job kept plus what it promoted and the collector had not reclaimed
    yet.  Unlike resident memory, it does not follow the size G1 grew the
    heap to."""
    peak = 0.0
    with open(path) as fh:
        for line in fh:
            m = _GC_HEAP.search(line)
            if m:
                peak = max(peak, int(m.group(3)) * _MB[m.group(4)])
    return peak


class Meter:
    """Wall and process-tree CPU of the timed spans of a product pass."""

    def __init__(self, proc: ProcessTree) -> None:
        self.proc = proc

    @contextmanager
    def batch(self, out):
        """Time one batch; appends to ``out.batch_s`` / ``out.batch_cpu_s``."""
        c0 = self.proc.snapshot()["total"]
        t0 = time.perf_counter()
        try:
            yield
        finally:
            out.batch_s.append(time.perf_counter() - t0)
            out.batch_cpu_s.append(self.proc.snapshot()["total"] - c0)


# ---------------------------------------------------------------------------
# layer spans
# ---------------------------------------------------------------------------


class Tracer:
    """Times each layer from outside and tags its Spark jobs.

    ``layer(name)`` sets the Spark job group to ``name`` (thread-local,
    inherited by threads the library starts inside the call), records the
    wall time and the Python-worker CPU of the block, and restores the
    untraced group afterwards.  The block should materialize the layer's
    output, so that its work is not deferred into the next layer.
    """

    def __init__(self, spark, proc: ProcessTree) -> None:
        self.sc = spark.sparkContext
        self.proc = proc
        self.wall: dict[str, float] = defaultdict(float)
        self.py_cpu: dict[str, float] = defaultdict(float)
        self.sc.setJobGroup(UNTRACED_GROUP, UNTRACED_GROUP)

    @contextmanager
    def layer(self, name: str):
        self.sc.setJobGroup(name, name)
        c0 = self.proc.snapshot()["python_workers"]
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.wall[name] += time.perf_counter() - t0
            self.py_cpu[name] += self.proc.snapshot()["python_workers"] - c0
            self.sc.setJobGroup(UNTRACED_GROUP, UNTRACED_GROUP)


# ---------------------------------------------------------------------------
# event-log fold
# ---------------------------------------------------------------------------


def event_log_conf(log_dir: Path) -> dict[str, str]:
    # uncompressed: the default codec needs the zstandard module
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.rolling.enabled": "true",
        "spark.eventLog.dir": log_dir.resolve().as_uri(),
        "spark.eventLog.compress": "false",
    }


def _lines(files: list[Path]):
    for path in files:
        with open(path) as fh:
            yield from fh


def fold_event_log(log_dir: Path) -> dict[str, dict[str, float]]:
    """Sum ``SparkListenerTaskEnd`` metrics per job group.

    A stage belongs to the group in the properties it was submitted with,
    which is the group of the job that actually ran its tasks (a stage
    reused from an earlier job is skipped, not re-run).  ``task_skew`` is
    max/median task run time of the group's heaviest stage.
    """
    # a rolling log: events_<index>_<app> files in one directory
    files = sorted(
        log_dir.rglob("events_*"), key=lambda p: int(p.name.split("_")[1])
    )
    if not files:
        raise RuntimeError(f"no event log under {log_dir}")
    stage_group: dict[int, str] = {}
    acc: dict[str, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    stage_times: dict[int, list[float]] = defaultdict(list)
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            props = ev.get("Properties") or {}
            group = props.get("spark.jobGroup.id")
            if group:
                stage_group[ev["Stage Info"]["Stage ID"]] = group
        elif kind == "SparkListenerTaskEnd":
            stage = ev["Stage ID"]
            group = stage_group.get(stage)
            metrics = ev.get("Task Metrics")
            if group is None or group == UNTRACED_GROUP or not metrics:
                continue
            a = acc[group]
            run_ms = metrics.get("Executor Run Time", 0)
            stage_times[stage].append(run_ms)
            a["tasks"] += 1
            a["exec_run_s"] += run_ms / 1e3
            a["exec_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            sr = metrics.get("Shuffle Read Metrics") or {}
            sw = metrics.get("Shuffle Write Metrics") or {}
            a["shuffle_bytes"] += (
                sr.get("Remote Bytes Read", 0)
                + sr.get("Local Bytes Read", 0)
                + sw.get("Shuffle Bytes Written", 0)
            )
            a["spill_bytes"] += metrics.get(
                "Memory Bytes Spilled", 0
            ) + metrics.get("Disk Bytes Spilled", 0)
            out = metrics.get("Output Metrics") or {}
            a["bytes_written"] += out.get("Bytes Written", 0)
    heaviest: dict[str, tuple[float, float]] = {}
    for stage, times in stage_times.items():
        group = stage_group[stage]
        total = sum(times)
        med = statistics.median(times)
        skew = max(times) / med if med > 0 else 1.0
        if group not in heaviest or total > heaviest[group][0]:
            heaviest[group] = (total, skew)
    for group, (_, skew) in heaviest.items():
        acc[group]["task_skew"] = skew
    return {g: dict(m) for g, m in acc.items()}
