"""Measurement machinery shared by the workloads: spans, Spark status-store
metrics per span, host and RSS sampling, and the statistics the results
are reported with.

Spans live in memory and are written out when the run ends. A traced
span tags every Spark job it starts with its own job group, so the
status store's per-stage metrics (tasks, run/CPU/GC time, shuffle,
spill, input) attribute to the innermost span that caused them.
"""

from __future__ import annotations

import math
import os
import re
import statistics
import threading
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Optional


# ------------------------------------------------------------ statistics

def median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def tail_percentile(samples, min_beyond: int = 10,
                    candidates=(99.9, 99.0, 95.0, 90.0, 75.0, 50.0)):
    """The highest candidate percentile with at least ``min_beyond``
    samples above its rank, as ``(percentile, value)``; ``None`` when
    even the median has too few samples beyond it. Nearest-rank rule:
    the p-th percentile of n sorted samples is the ceil(p/100*n)-th."""
    xs = sorted(samples)
    n = len(xs)
    for p in candidates:
        # ceil, ignoring float noise such as 99.9 * 1000 = 99900.00000000001
        rank = max(1, math.ceil(p * n / 100 - 1e-9))
        if n - rank >= min_beyond:
            return p, xs[rank - 1]
    return None


def self_time(start: float, end: float, children) -> float:
    """Span duration minus the part of [start, end] covered by the
    union of its children's intervals (children may overlap)."""
    covered = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in children):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return (end - start) - covered


@dataclass
class Tally:
    """Operations attempted and failed. An operation fails when it
    raises or when its output check does not hold."""

    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)

    def record(self, name: str, ok: bool, detail: str = "") -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(f"{name}: {detail}" if detail else name)
        return ok

    @property
    def failed_ratio(self) -> float:
        return self.failed / self.attempted if self.attempted else 0.0


def closed_loop(op, seconds: float, interleave: bool, failed) -> list:
    """Call ``op(traced)`` back to back for ``seconds`` with one client;
    returns ``(traced, result)`` of every call that returned. A call that
    raises is reported through ``failed()`` and the loop goes on. With
    ``interleave`` calls go untraced and traced in the order
    U T T U U T T U ..., which cancels a linear warm-up trend in the
    traced ÷ untraced ratio, and at least one of each is attempted."""
    results = []
    attempts = 0
    deadline = time.perf_counter() + seconds
    while time.perf_counter() < deadline or (interleave and attempts < 2):
        traced = interleave and attempts % 4 in (1, 2)
        attempts += 1
        try:
            results.append((traced, op(traced)))
        except Exception:
            traceback.print_exc()
            failed()
    return results


# ----------------------------------------------------------------- spans

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: Optional[int] = None
    sid: int = 0
    group: str = ""


class Tracer:
    """Spans around the benchmark's calls into the package.

    Disabled, ``span`` yields None and records nothing; enabled, each
    span records (name, start, end, parent, run id) and sets a Spark
    job group named after its id so the status store attributes the
    jobs it starts to it."""

    def __init__(self, sc, run_id: str, enabled: bool):
        self.sc = sc
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sp = Span(name, time.perf_counter(), sid=len(self.spans),
                  parent=self._stack[-1].sid if self._stack else None)
        sp.group = f"{self.run_id}-{sp.sid}"
        self.spans.append(sp)
        self._stack.append(sp)
        self.sc.setJobGroup(sp.group, name)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if self._stack:
                self.sc.setJobGroup(self._stack[-1].group, self._stack[-1].name)
            else:
                self.sc._jsc.clearJobGroup()

    def self_s(self, sp: Span) -> float:
        return self_time(sp.start, sp.end, [
            (c.start, c.end) for c in self.spans if c.parent == sp.sid
        ])

    def records(self) -> list[dict]:
        return [
            {"run_id": self.run_id, "id": s.sid, "parent": s.parent,
             "name": s.name, "start": s.start, "end": s.end,
             "self_s": self.self_s(s)}
            for s in self.spans
        ]


# ------------------------------------------------- Spark status-store metrics

_STAGE_FIELDS = {
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
    "input_records": "inputRecords",
}

_UNITS = {
    "ns": 1e-6, "ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0 ** 2, "GiB": 1024.0 ** 3,
    "TiB": 1024.0 ** 4,
}


def parse_metric_total(text: str) -> float:
    """Total of a formatted SQL metric value (ms for timings, bytes for
    sizes): ``"total (min, med, max ...)\\n1.2 s (...)"`` or ``"1.2 s"``."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]+)?", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class StatusProbe:
    """Reads per-stage and per-SQL-execution metrics for a set of job
    groups from Spark's in-process status stores (the UI is disabled, so the
    REST API is not available)."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self._conv = self.jvm.scala.jdk.javaapi.CollectionConverters

    def jobs(self, groups) -> set[int]:
        tr = self.sc.statusTracker()
        return {j for g in groups for j in tr.getJobIdsForGroup(g)}

    def stages(self, job_ids) -> set[int]:
        tr = self.sc.statusTracker()
        out: set[int] = set()
        for j in job_ids:
            info = tr.getJobInfo(j)
            if info is not None:
                out.update(info.stageIds)
        return out

    def stage_metrics(self, stage_ids) -> dict:
        """Summed stage metrics and the widest stage's task skew (max ÷
        median task run time)."""
        tot = {k: 0 for k in _STAGE_FIELDS}
        tot["task_skew"] = 0.0
        if not stage_ids:
            return tot
        store = self.sc._jsc.sc().statusStore()
        empty = self.jvm.java.util.ArrayList()
        q = self.sc._gateway.new_array(self.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        widest = -1
        it = store.stageList(empty, False, True, q, empty).iterator()
        while it.hasNext():
            s = it.next()
            if s.stageId() not in stage_ids or s.numCompleteTasks() == 0:
                continue
            for k, getter in _STAGE_FIELDS.items():
                tot[k] += getattr(s, getter)()
            if s.numCompleteTasks() > widest:
                dist = s.taskMetricsDistributions()
                if dist.isDefined():
                    rt = dist.get().executorRunTime()
                    med, mx = rt.apply(0), rt.apply(1)
                    widest = s.numCompleteTasks()
                    tot["task_skew"] = mx / med if med > 0 else 1.0
        return tot

    def sql_metric_totals(self, job_ids, names) -> dict:
        """Sum of SQL plan metrics named in ``names`` (name -> key) over
        the executions that ran any of ``job_ids``."""
        out = {k: 0.0 for k in names.values()}
        if not job_ids:
            return out
        store = self.spark._jsparkSession.sharedState().statusStore()
        execs = self._conv.asJava(store.executionsList())
        for e in execs:
            ejobs = set(self._conv.asJava(e.jobs()).keySet())
            if not ejobs & job_ids:
                continue
            wanted = {}
            for m in self._conv.asJava(e.metrics()):
                key = names.get(m.name())
                if key:
                    wanted[m.accumulatorId()] = key
            if not wanted:
                continue
            values = self._conv.asJava(store.executionMetrics(e.executionId()))
            for acc, key in wanted.items():
                v = values.get(acc)
                if v:
                    out[key] += parse_metric_total(v)
        return out


def catalyst_ms(df) -> float:
    """Analysis + optimization + planning time recorded by the query
    execution's phase tracker. Only an action on ``df`` itself, such as
    ``collect()``, runs those phases on this query execution; ``first()``
    plans a new DataFrame and leaves only the analysis here."""
    jvm = df.sparkSession.sparkContext._jvm
    phases = jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        df._jdf.queryExecution().tracker().phases()
    )
    return float(sum(p.durationMs() for p in phases.values()))


# ------------------------------------------------------ host and RSS sampling

def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rfind(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _start_ticks(pid: int) -> Optional[int]:
    """Start time of a live process, or None once it has exited (gone or
    a zombie). Start times tell a process from a later one that reuses
    its pid."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    # fields 3 (state) and 22 (starttime) of /proc/<pid>/stat
    return None if fields[0] in ("Z", "X") else int(fields[19])


def wait_exited(procs: dict, timeout_s: float) -> dict:
    """Wait until every ``pid -> start ticks`` in ``procs`` has exited;
    returns those still running after ``timeout_s``."""
    deadline = time.monotonic() + timeout_s
    while True:
        left = {p: t for p, t in procs.items() if _start_ticks(p) == t}
        if not left or time.monotonic() >= deadline:
            return left
        time.sleep(0.05)


def stop_spark(spark=None, timeout_s: float = 60.0) -> None:
    """Stop the Spark session, end the JVM that pyspark launched for it
    and wait until the JVM and every process it started (the Python
    daemon and workers) have exited; what has not exited within
    ``timeout_s`` is killed and waited for. Without this the JVM only
    notices that its parent has gone after the parent exits, and it
    outlives the run."""
    from pyspark import SparkContext

    procs = {p: t for p in _descendants(os.getpid())
             if (t := _start_ticks(p)) is not None}
    gateway = SparkContext._gateway
    try:
        if spark is not None:
            spark.stop()
        elif SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:
                pass
            SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            # the JVM exits when its stdin closes
            if proc.stdin is not None:
                proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except Exception:
                proc.kill()
                proc.wait()
        for pid in wait_exited(procs, timeout_s):
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        wait_exited(procs, timeout_s)


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def cpu_ms(python_workers_only: bool = False) -> float:
    """CPU time (user + system, all threads) of this process and its
    descendants: the Spark JVM and the PySpark Python workers. A process
    that has exited is counted in its parent's reaped-children time, so
    nothing is counted twice. With ``python_workers_only`` only the
    workers and the daemon that forks them count."""
    ticks = 0
    for pid in [os.getpid(), *_descendants(os.getpid())]:
        try:
            if python_workers_only:
                with open(f"/proc/{pid}/cmdline", "rb") as f:
                    cmd = f.read()
                # the JVM's own command line names pyspark-shell; workers
                # are forked from pyspark.daemon and keep its command line
                if b"pyspark.daemon" not in cmd and b"pyspark.worker" not in cmd:
                    continue
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime stime cutime cstime are fields 14-17 of /proc/<pid>/stat
        ticks += sum(int(v) for v in fields[11:15])
    return ticks * 1000.0 / os.sysconf("SC_CLK_TCK")


def _cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal guest guest_nice;
    # guest time is already counted in user/nice
    return vals[7] if len(vals) > 7 else 0, sum(vals[:8])


class HostSampler:
    """Background thread sampling host CPU steal, load average and the
    summed RSS of this process's descendants (the Spark JVM and
    its Python workers) for the whole run."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.samples: list[dict] = []
        self.peak_rss_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._first = _cpu_times()
        self._t0 = time.time()

    def start(self) -> "HostSampler":
        self._thread.start()
        return self

    def _loop(self) -> None:
        me = os.getpid()
        prev = self._first
        while True:
            rss = sum(_rss_kb(p) for p in _descendants(me))
            self.peak_rss_kb = max(self.peak_rss_kb, rss)
            cur = _cpu_times()
            dt = cur[1] - prev[1]
            with open("/proc/loadavg") as f:
                load1 = float(f.read().split()[0])
            self.samples.append({
                "t": round(time.time() - self._t0, 3),
                "steal_pct": 100.0 * (cur[0] - prev[0]) / dt if dt else 0.0,
                "load1": load1,
                "rss_mb": rss / 1024.0,
            })
            prev = cur
            if self._stop.wait(self.interval_s):
                return

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    def summary(self) -> dict:
        """Steal share and peak RSS since the start, and median load."""
        steal, total = _cpu_times()
        dt = total - self._first[1]
        return {
            "steal_pct": 100.0 * (steal - self._first[0]) / dt if dt else 0.0,
            "load1": median(s["load1"] for s in self.samples),
            "peak_rss_mb": self.peak_rss_kb / 1024.0,
        }


def engine_layers(probe: StatusProbe, job_ids) -> dict:
    """Operator and engine metrics of the stages that ``job_ids`` ran."""
    st = probe.stage_metrics(probe.stages(job_ids))
    sql = probe.sql_metric_totals(job_ids, {"sort time": "sort_ms"})
    return {
        "operators.sort_ms": sql["sort_ms"],
        "operators.shuffle_bytes": float(st["shuffle_write_bytes"]),
        "operators.spill_bytes": float(st["spill_bytes"]),
        "operators.task_skew": st["task_skew"],
        "jvm.gc_ms": float(st["gc_ms"]),
        "jvm.gc_share": st["gc_ms"] / st["run_ms"] if st["run_ms"] else 0.0,
        "tasks.run_ms": float(st["run_ms"]),
        "tasks.cpu_ms": st["cpu_ns"] / 1e6,
    }


def dir_bytes(path: str, suffix: str = ".parquet") -> int:
    """Total size of the data files under ``path``."""
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(suffix)
    )


@dataclass
class OpResult:
    """One closed-loop operation: the input rows it processed with the
    wall and CPU time that took, the latencies and CPU costs of the
    calls a user made, and (traced) its layer metrics."""

    rows: int
    wall_s: float
    latencies_s: list
    cpu_ms: float
    op_cpu_ms: list
    layers: dict = field(default_factory=dict)
