"""Measurement plumbing: spans, sample statistics, the Spark session, the
Spark event log, memory and the CPU drift probe."""

from __future__ import annotations

import json
import math
import os
import statistics
import time
from contextlib import contextmanager

# ------------------------------------------------------------------ tracing


class Span:
    __slots__ = ("sid", "name", "op", "parent", "start", "end")

    def __init__(self, sid, name, op, parent, start):
        self.sid, self.name, self.op, self.parent = sid, name, op, parent
        self.start, self.end = start, None

    @property
    def dur(self) -> float:
        return self.end - self.start

    def to_json(self) -> dict:
        return {"id": self.sid, "name": self.name, "op": self.op,
                "parent": self.parent, "start": self.start, "end": self.end}


class Tracer:
    """Spans around every call the benchmark makes into the package.

    Every span is timed, so the untraced run measures with the same code;
    only a traced tracer keeps spans (in memory, written out at the end).
    Times are ``time.time()`` seconds so spans line up with the Spark event
    log's millisecond timestamps.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None and parent is not None:
            op = parent.op
        s = Span(self._next, name, op, parent.sid if parent else None, time.time())
        self._next += 1
        self._stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self.spans.append(s)

    def self_times(self) -> dict[int, float]:
        """Span id → duration minus the part covered by its children
        (children of one parent run one after another, so they never
        overlap)."""
        child = {}
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] = child.get(s.parent, 0.0) + s.dur
        return {s.sid: s.dur - child.get(s.sid, 0.0) for s in self.spans}

    def innermost(self, t: float) -> Span | None:
        """The deepest span whose interval holds wall time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None or s.start >= best.start):
                best = s
        return best


# --------------------------------------------------------------- statistics


def median(xs):
    return statistics.median(xs) if xs else None


def tail(xs) -> tuple[float | None, int | None]:
    """(value, percentile) of the highest whole percentile that has at least
    ten samples above it; (None, None) below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None
    p = int(math.floor(100 * (n - 10) / n))
    ys = sorted(xs)
    return ys[min(n - 1, max(0, math.ceil(p / 100 * n) - 1))], p


def summary(xs, scale: float = 1.0) -> dict:
    """Median, tail and sample count of a list of seconds, in ``scale``."""
    v, p = tail(xs)
    return {
        "p50": median(xs) * scale if xs else None,
        "tail": v * scale if v is not None else None,
        "tail_pct": p,
        "n": len(xs),
    }


# ------------------------------------------------------------------- system


def cpu_drift_score() -> float:
    """Fixed single-thread busy loop; returns millions of loop steps per
    second. Recorded at the start and the end of a run so a change in the
    machine's CPU speed shows next to the numbers."""
    n = 2_000_000
    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x = (x * 31 + i) & 0xFFFF
    return n / (time.perf_counter() - t0) / 1e6


class Clock:
    """One timed block: its ``wall`` seconds, the ``cpu`` seconds this
    process and its descendants used, the ``steal`` seconds the hypervisor
    held this machine's CPUs back while they had work, and ``s``.

    ``s`` is the wall time scaled by the share of the block's CPU demand
    that ran, wall × cpu / (cpu + steal): how long the block would have
    taken on a host no one else was using. With no steal, ``s`` is the
    wall time. Every timing metric is made of ``s``, so a busy shared host
    moves them far less than it moves wall time.
    """

    __slots__ = ("wall", "cpu", "steal")

    @property
    def s(self) -> float:
        demand = self.cpu + self.steal
        return self.wall * self.cpu / demand if demand > 0 else self.wall


class Meter:
    """CPU seconds used by this process and all its descendants (the JVM
    and Spark's Python workers), and CPU seconds stolen by the hypervisor,
    summed over the CPUs.

    With paravirtual steal accounting the kernel leaves stolen time out of
    a process's CPU time, so CPU time does not grow when the shared host is
    busy; wall time does.
    """

    def __init__(self):
        self.tick = os.sysconf("SC_CLK_TCK")
        self.pid = os.getpid()

    @contextmanager
    def clock(self):
        """Times the block; the yielded ``Clock`` is filled in when it ends."""
        c = Clock()
        c0, s0 = self.cpu_s(), self.steal_s()
        w0 = time.perf_counter()
        yield c
        c.wall = time.perf_counter() - w0
        c.cpu = self.cpu_s() - c0
        c.steal = self.steal_s() - s0

    def cpu_s(self) -> float:
        ppid, ticks = {}, {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat", "rb") as f:
                    fields = f.read().rsplit(b")", 1)[1].split()
            except OSError:
                continue  # exited while listing
            pid = int(name)
            ppid[pid] = int(fields[1])
            # utime, stime, and cutime, cstime of reaped children
            ticks[pid] = sum(int(x) for x in fields[11:15])
        total = 0
        for pid, t in ticks.items():
            p = pid
            while p > 1 and p != self.pid:
                p = ppid.get(p, 0)
            if p == self.pid:
                total += t
        return total / self.tick

    def steal_s(self) -> float:
        with open("/proc/stat") as f:
            fields = f.readline().split()
        return int(fields[8]) / self.tick


def vm_hwm_mb(pid: int | str = "self") -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def jvm_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


# -------------------------------------------------------------------- spark


def start_spark(work: str, cores: int, event_log: bool):
    """local[cores] session with every scratch path inside ``work``.

    The event log is on only in the traced run."""
    from ecommerce_lakehouse_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = "3g"
    conf = {
        "spark.driver.memory": heap,
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": tmp,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # no hsperfdata files in the system temp dir; a fixed heap and
        # young generation keep the heap's resident size (peak_rss_mb) from
        # following G1's adaptive sizing run to run
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -Xmn512m",
    }
    if event_log:
        d = os.path.join(work, "eventlog")
        os.makedirs(d, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": d,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    spark = get_spark("perfbench", cores=cores, shuffle_partitions=cores,
                      extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_jvm(gateway):
    """Shut the py4j gateway's JVM down and wait for it to exit (Spark's
    Python workers exit with it)."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait()


def read_event_log(work: str) -> list[dict]:
    d = os.path.join(work, "eventlog")
    events = []
    for name in sorted(os.listdir(d)) if os.path.isdir(d) else []:
        with open(os.path.join(d, name)) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue  # a torn last line
    return events


SPARK_FIELDS = ("jobs", "tasks", "task_busy_s", "driver_only_s",
                "shuffle_write_mb", "input_mb", "spill_mb")


def attribute_spark(tracer: Tracer, events: list[dict], layer_of, cores: int) -> tuple[dict, dict]:
    """Per-layer Spark counters from the event log, each job and task
    attributed to the innermost span open when it started; and, per span id,
    the final physical plans of the SQL executions it ran."""
    acc: dict[str, dict] = {}
    plans: dict[int, dict[int, str]] = {}
    exec_span: dict[int, int] = {}

    def bucket(t_ms):
        s = tracer.innermost(t_ms / 1000.0)
        if s is None:
            return None, None
        layer = layer_of(s.name)
        if layer is None:
            return s, None
        return s, acc.setdefault(layer, dict.fromkeys(SPARK_FIELDS, 0.0))

    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            _, a = bucket(e.get("Submission Time", 0))
            if a is not None:
                a["jobs"] += 1
        elif kind == "SparkListenerTaskEnd":
            info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
            _, a = bucket(info.get("Launch Time", 0))
            if a is None:
                continue
            a["tasks"] += 1
            a["task_busy_s"] += m.get("Executor Run Time", 0) / 1000.0
            a["shuffle_write_mb"] += (
                m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0) / 2**20
            )
            a["input_mb"] += m.get("Input Metrics", {}).get("Bytes Read", 0) / 2**20
            a["spill_mb"] += (
                m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
            ) / 2**20
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            s, _ = bucket(e.get("time", 0))
            if s is not None:
                exec_span[e["executionId"]] = s.sid
                plans.setdefault(s.sid, {})[e["executionId"]] = e.get("physicalPlanDescription", "")
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            sid = exec_span.get(e.get("executionId"))
            if sid is not None:  # AQE re-planned: keep the final plan
                plans[sid][e["executionId"]] = e.get("physicalPlanDescription", "")

    # wall time of every span of the layer, minus what the executors were
    # busy for spread over the cores: the part that is driver-side work
    wall: dict[str, float] = {}
    selft = tracer.self_times()
    for s in tracer.spans:
        layer = layer_of(s.name)
        if layer is not None:
            wall[layer] = wall.get(layer, 0.0) + selft[s.sid]
    for layer, a in acc.items():
        a["driver_only_s"] = max(0.0, wall.get(layer, 0.0) - a["task_busy_s"] / cores)
    return acc, plans
