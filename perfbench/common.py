"""Shared plumbing for the benchmark: Spark session, span tracer, per-op
Spark job accounting, memory high-water marks, disk sizes and order
statistics.  Nothing here imports pyspark at module import time."""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager
from typing import Any, Callable, Optional

# Layers whose public calls the workloads wrap in spans.  "driver" is the
# root span of an op: time the op spends in the benchmark's own Python
# (building DataFrames, converting inputs) rather than inside a layer.
LAYERS = ("driver", "datasource", "maintenance", "dedup", "textstats",
          "tokenize", "similarity", "curate")
OP_KINDS = ("lookup", "scan", "append", "merge", "delete", "curate")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


# ---------------------------------------------------------------- timing

def clock() -> tuple[float, int, int]:
    """Now: wall seconds, and the busy and the stolen CPU ticks of the
    whole machine since boot (``/proc/stat``)."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return time.perf_counter(), user + nice + system + irq + softirq, steal


def unstolen(t0: tuple, t1: Optional[tuple] = None) -> float:
    """Wall seconds from ``t0`` to ``t1`` (default: now) less the share of
    the busy CPU time that the hypervisor stole over that interval.  On a
    shared virtual machine steal comes and goes over minutes and slows
    whole runs; without a hypervisor it is 0 and this is the wall time."""
    t1 = t1 or clock()
    busy, steal = t1[1] - t0[1], t1[2] - t0[2]
    share = steal / (busy + steal) if busy + steal else 0.0
    return (t1[0] - t0[0]) * (1.0 - share)


# --------------------------------------------------------------- tracing

class Tracer:
    """In-memory spans: [name, start, end, parent index, op id].

    Disabled tracers cost one attribute test per span.  The time spent
    in the tracer's own bookkeeping is accumulated in ``bookkeeping_s``
    so a traced run can state its direct overhead."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.op_id: Optional[int] = None
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t0 = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = [name, 0.0, 0.0, parent, self.op_id]
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        rec[1] = time.perf_counter()
        self.bookkeeping_s += rec[1] - t0
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec[2]

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]

    def self_times(self) -> dict[str, float]:
        """Total self time per layer: a span's duration minus the part of
        it covered by its child spans (children never overlap: the
        workloads are single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            layer = s[0].split(".", 1)[0]
            layer = "driver" if layer == "op" else layer
            out[layer] = out.get(layer, 0.0) + (s[2] - s[1]) - child[i]
        return out

    def dump(self, path: str) -> None:
        t0 = self.spans[0][1] if self.spans else 0.0
        with open(path, "w") as f:
            for i, (name, start, end, parent, op) in enumerate(self.spans):
                f.write(json.dumps({
                    "id": i, "name": name, "start_s": start - t0,
                    "end_s": end - t0, "parent": parent, "op": op,
                }) + "\n")


# ------------------------------------------------------------- ops, jobs

class OpLog:
    """Closed-loop op bookkeeping: time per op kind (``walls``, less
    stolen time; ``raw_walls``, as measured), failures, and (when
    tracing) Spark jobs/stages/tasks per op through job groups."""

    def __init__(self, spark, tracer: Tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.walls: dict[str, list[float]] = {}
        self.raw_walls: dict[str, list[float]] = {}
        self.jobs: dict[str, list[tuple[int, int, int]]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self._next = 0

    def run(self, kind: str, fn: Callable[[], Any], record: bool = True):
        """Time ``fn`` as one op.  Returns its result, or None when it
        raised (the op then counts as failed)."""
        self._next += 1
        self.attempted += 1
        sc = self.spark.sparkContext
        group = f"op-{self._next}"
        if self.tracer.enabled:
            self.tracer.op_id = self._next
            sc.setJobGroup(group, kind)
        t0 = clock()
        try:
            with self.tracer.span(f"op.{kind}"):
                res = fn()
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            self.fail(f"{kind}: {type(e).__name__}: {e}")
            return None
        finally:
            t1 = clock()
            if self.tracer.enabled:
                sc.setLocalProperty("spark.jobGroup.id", None)
                self.tracer.op_id = None
        if record:
            self.walls.setdefault(kind, []).append(unstolen(t0, t1))
            self.raw_walls.setdefault(kind, []).append(t1[0] - t0[0])
            if self.tracer.enabled:
                self.jobs.setdefault(kind, []).append(_count_jobs(sc, group))
        return res

    def fail(self, *why: str) -> None:
        self.failed += 1
        self.failures.extend(w[:500] for w in why)

    def check(self, checks) -> None:
        """The checks, ``(ok, why)`` pairs, of one op already counted as
        attempted: the op counts as failed once if any is false, and
        every message is kept."""
        bad = [why for ok, why in checks if not ok]
        if bad:
            self.fail(*bad)


def _count_jobs(sc, group: str) -> tuple[int, int, int]:
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for s in (info.stageIds if info else []):
            si = st.getStageInfo(s)
            if si is not None and si.numCompletedTasks > 0:
                stages += 1
                tasks += si.numCompletedTasks
    return len(jobs), stages, tasks


# ----------------------------------------------------------------- spark

def start_spark(work: str, root: str):
    """A local session with every scratch location inside ``work``."""
    for d in ("tmp", "spark-local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata files outside the checkout, from the launcher or driver
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    # Python workers import olive_spark from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    import tempfile

    tempfile.tempdir = tmp
    from pyspark.sql import SparkSession

    n = cpu_count()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("olive-perfbench")
        .config("spark.driver.memory", "2g")
        # a fixed heap and young generation, not pre-touched: the JVM's
        # resident high-water mark is then the young generation plus the
        # old-generation data the run really keeps, not a function of
        # how the collector chose to resize the heap on a busy host
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmp} -Xms2g -Xmn512m -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    from olive_spark import register_olive

    register_olive(spark)
    return spark


def peak_rss_mb(spark) -> float:
    """Driver Python plus driver JVM resident high-water mark (VmHWM).
    Spark's Python worker processes are not counted."""
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(jvm_pid)) / 1024.0


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


# ------------------------------------------------------------ disk, stats

def dir_files(path: str) -> dict[str, int]:
    out = {}
    for dp, _, fs in os.walk(path):
        for f in fs:
            p = os.path.join(dp, f)
            out[p] = os.path.getsize(p)
    return out


def dir_bytes(path: str) -> int:
    return sum(dir_files(path).values())


def chunk_files(path: str) -> list[str]:
    """Live olive chunk files of a table directory (no history, no
    deletion-vector sidecars)."""
    return sorted(
        os.path.join(dp, f)
        for dp, dns, fs in os.walk(path)
        for f in fs
        if f.endswith(".olive") and "_olive_" not in dp
    )


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def tail(xs) -> tuple[Optional[float], Optional[float]]:
    """The highest of p50/p75/p90/p95/p99 with at least ten samples
    beyond it, and its value; (None, None) when fewer than 20 samples."""
    n = len(xs)
    best = None
    for p in (50, 75, 90, 95, 99):
        if n * (100 - p) / 100 >= 10:
            best = p
    if best is None:
        return None, None
    q = statistics.quantiles(sorted(xs), n=100, method="inclusive")
    return float(best), float(q[best - 1])


def close(a: float, b: float, rel: float = 1e-9, abs_: float = 1e-6) -> bool:
    return abs(a - b) <= max(abs_, rel * max(abs(a), abs(b)))
