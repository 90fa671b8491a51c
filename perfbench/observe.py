"""What the benchmark observes besides wall time: process-tree RSS, the
host (cores, load, steal, a pure-Python canary), spans for the traced
run, and Spark's own SQL and stage metrics read from the status store
after the timed region."""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

PAGE = os.sysconf("SC_PAGE_SIZE")


# ------------------------------------------------------------- process tree


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after its ')'
        ppid = int(stat[stat.rfind(b")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(pid: int) -> int:
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm", "rb") as f:
                total += int(f.read().split()[1]) * PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the RSS of this process and all its descendants (driver
    Python, the JVM and its Python workers) and keeps the peak."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._paused = False
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            with self._lock:
                if not self._paused:
                    self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    @contextlib.contextmanager
    def paused(self):
        """No samples inside the block: the benchmark's own output checks
        are not the engine's memory."""
        with self._lock:  # waits out a sample in progress
            self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


# -------------------------------------------------------------------- host


def canary_s(rounds: int = 3) -> float:
    """Median time of a fixed pure-Python loop. Reported beside every pass
    so host drift is visible; never divided into a metric."""
    times = []
    for _ in range(rounds):
        t0 = time.perf_counter()
        acc = 0
        for i in range(200_000):
            acc = (acc + i * i) % 1_000_003
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _cpu_ticks() -> tuple[int, int]:
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


class StealMeter:
    """Share of all CPU ticks the hypervisor stole between start and read."""

    def __init__(self) -> None:
        self.total0, self.steal0 = _cpu_ticks()

    def frac(self) -> float:
        total, steal = _cpu_ticks()
        return (steal - self.steal0) / max(1, total - self.total0)


def host_record(cores_used: int, heap: str) -> dict:
    with open("/proc/loadavg") as f:
        load = [float(v) for v in f.read().split()[:3]]
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "cores_used": cores_used,
        "heap": heap,
        "loadavg": load,
    }


# ------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None


@dataclass
class Tracer:
    """Spans kept in memory and written out once, at the end of the run."""

    spans: list[Span] = field(default_factory=list)
    _stack: list[int] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        self.spans.append(Span(name, time.perf_counter(), parent=parent))
        idx = len(self.spans) - 1
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx].end = time.perf_counter()

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the time its child spans cover."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, float] = {}
        for i, s in enumerate(self.spans):
            out[s.name] = out.get(s.name, 0.0) + (s.end - s.start) - child.get(i, 0.0)
        return out

    def to_json(self) -> list[dict]:
        return [
            {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent}
            for s in self.spans
        ]


# ------------------------------------------------------ Spark status store

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "min": 60.0}

#: SQL metric (node-independent name) -> per-layer metric it folds into
SQL_METRICS = {
    "time to start Python workers": "python.worker_start_s",
    "time to initialize Python workers": "python.worker_init_s",
    "time to run Python workers": "python.worker_run_s",
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_returned",
    "shuffle bytes written": "shuffle.bytes_written",
    "shuffle records written": "shuffle.records_written",
}


def parse_metric(text: str, metric_type: str) -> float:
    """Total of one SQL metric as the status store formats it: a bare
    ``sum`` ("10,000") or the first figure of a size / timing summary
    ("total (min, med, max ...)\\n351.0 B (...)")."""
    line = text.split("\n")[-1].strip()
    if metric_type in ("sum", "average"):
        return float(line.replace(",", "").split()[0])
    m = re.match(r"([-\d.,]+)\s*([A-Za-z]+)", line)
    if m is None:
        raise ValueError(f"unparsed {metric_type} metric {text!r}")
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    # custom (data source) metrics carry their own type names; the unit
    # says what the figure is
    return value * (_SIZE.get(unit) or _TIME[unit])


class SparkStats:
    """Folds the SQL metrics of every execution and the task metrics of
    every stage that ran between two marks."""

    def __init__(self, spark):
        self.spark = spark
        jsc = spark.sparkContext._jsc.sc()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._app = jsc.statusStore()
        self._jvm = spark.sparkContext._jvm
        self._gw = spark.sparkContext._gateway

    def mark(self) -> tuple[int, int]:
        ex = self._sql.executionsList()  # not ordered by id
        last_exec = max((ex.apply(i).executionId() for i in range(ex.size())), default=-1)
        return last_exec, self._max_stage()

    def _stages(self):
        empty = self._gw.new_array(self._jvm.double, 0)
        seq = self._app.stageList(None, False, False, empty, None)
        return [seq.apply(i) for i in range(seq.size())]

    def _max_stage(self) -> int:
        return max((s.stageId() for s in self._stages()), default=-1)

    def cached_bytes(self) -> int:
        infos = self.spark.sparkContext._jsc.sc().getRDDStorageInfo()
        return int(sum(r.memSize() + r.diskSize() for r in infos))

    def stage_wall_s(self, since: tuple[int, int]) -> float:
        """First submission to last completion of the stages since a mark."""
        starts, ends = [], []
        for s in self._stages():
            sub, done = s.submissionTime(), s.completionTime()
            if s.stageId() > since[1] and sub.isDefined() and done.isDefined():
                starts.append(sub.get().getTime())
                ends.append(done.get().getTime())
        return (max(ends) - min(starts)) / 1e3 if starts else 0.0

    def fold(self, since: tuple[int, int], wall_s: float, cores: int) -> dict:
        exec0, stage0 = since
        out = {name: 0.0 for name in SQL_METRICS.values()}
        out["codegen.duration_s"] = 0.0
        out["memory.spill_bytes"] = 0.0
        out["memory.peak_execution_bytes"] = 0.0
        # Python data source metrics ("v2Custom" types) report a running
        # total over every execution of the source, so they fold as the
        # growth of their maximum since the mark
        running: dict[tuple[str, str], list[float]] = {}
        ex = self._sql.executionsList()
        for i in range(ex.size()):
            eid = ex.apply(i).executionId()
            values = self._sql.executionMetrics(eid)
            nodes = self._sql.planGraph(eid).allNodes()
            for j in range(nodes.size()):
                node = nodes.apply(j)
                metrics = node.metrics()
                for k in range(metrics.size()):
                    m = metrics.apply(k)
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    key = SQL_METRICS.get(name)
                    if key is None and name == "duration" and node.name().startswith(
                        "WholeStageCodegen"
                    ):
                        key = "codegen.duration_s"
                    if key is None:
                        continue
                    value = parse_metric(v.get(), m.metricType())
                    if m.metricType().startswith("v2Custom"):
                        base_now = running.setdefault((key, node.name()), [0.0, 0.0])
                        slot = 0 if eid <= exec0 else 1
                        base_now[slot] = max(base_now[slot], value)
                    elif eid > exec0:
                        out[key] += value
        for key_node, (base, now) in running.items():
            out[key_node[0]] += max(0.0, now - base)
        run_ms = gc_ms = fetch_ms = 0
        tasks = 0
        for s in self._stages():
            if s.stageId() <= stage0:
                continue
            tasks += s.numCompleteTasks() + s.numFailedTasks()
            run_ms += s.executorRunTime()
            gc_ms += s.jvmGcTime()
            fetch_ms += s.shuffleFetchWaitTime()
            out["memory.spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["memory.peak_execution_bytes"] = max(
                out["memory.peak_execution_bytes"], float(s.peakExecutionMemory())
            )
        out["shuffle.fetch_wait_s"] = fetch_ms / 1e3
        out["gc.jvm_gc_s"] = gc_ms / 1e3
        out["tasks.count"] = float(tasks)
        out["tasks.busy_core_frac"] = run_ms / 1e3 / max(1e-9, wall_s * cores)
        out["memory.cached_bytes"] = float(self.cached_bytes())
        return out
