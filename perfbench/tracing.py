"""Span tracer, driver-action counter, Spark event-log reader and memory
probe for the traced (``--trace 1``) runs.

Spans are recorded in memory and read out when the run ends.  A span's
self time is its duration minus the part of it its child spans cover
(children are spans opened on the same thread while it is open).  Every
span also tags the Spark jobs it starts: the tracer sets the local
property ``perfbench.span`` on the calling thread, and the event-log
reader attributes each job's tasks to the span named there.

Nothing here changes package code: layers are timed by swapping
module-level functions for wrappers (``Tracer.wrap``) and restoring them
afterwards.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import json
import os
import threading
import time
from collections import defaultdict

SPAN_PROPERTY = "perfbench.span"


class Span:
    __slots__ = ("name", "start", "end", "children_s", "actions")

    def __init__(self, name: str, start: float):
        self.name = name
        self.start = start
        self.end = start
        self.children_s = 0.0
        self.actions = 0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.children_s


class Tracer:
    """Thread-aware span recorder.  ``enabled=False`` makes every method
    a no-op, so the workloads call it unconditionally."""

    def __init__(self, sc=None, enabled: bool = True):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        stack = self._stack()
        s = Span(name, time.perf_counter())
        stack.append(s)
        if self.sc is not None:
            self.sc.setLocalProperty(SPAN_PROPERTY, name)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            if stack:
                stack[-1].children_s += s.duration
            if self.sc is not None:
                self.sc.setLocalProperty(SPAN_PROPERTY, stack[-1].name if stack else None)
            with self._lock:
                self.spans.append(s)

    def wrap(self, module, attr: str, name: str) -> None:
        """Replace ``module.attr`` with a wrapper that runs it in span
        ``name``; ``restore`` puts the original back."""
        if not self.enabled:
            return
        orig = getattr(module, attr)

        @functools.wraps(orig)
        def wrapper(*a, **k):
            with self.span(name):
                return orig(*a, **k)

        self._restore.append((module, attr, orig))
        setattr(module, attr, wrapper)

    def count_actions(self) -> None:
        """Count driver-side DataFrame actions against the innermost open
        span: ``collect`` (which ``first``/``take``/``head`` funnel into),
        ``count``, ``isEmpty``, ``toPandas`` and eager
        ``localCheckpoint``/``checkpoint``."""
        if not self.enabled:
            return
        try:
            import pyspark.sql.classic.dataframe as dfmod
        except ImportError:  # Spark 3.x
            import pyspark.sql.dataframe as dfmod
        tracer = self

        def counted(orig, eager_arg: bool = False):
            @functools.wraps(orig)
            def wrapper(df, *a, **k):
                eager = a[0] if a else k.get("eager", True)
                stack = tracer._stack()
                if stack and (not eager_arg or eager):
                    stack[-1].actions += 1
                return orig(df, *a, **k)

            return wrapper

        DF = dfmod.DataFrame
        for attr in ("collect", "count", "isEmpty", "toPandas"):
            self._restore.append((DF, attr, DF.__dict__[attr]))
            setattr(DF, attr, counted(DF.__dict__[attr]))
        for attr in ("localCheckpoint", "checkpoint"):
            self._restore.append((DF, attr, DF.__dict__[attr]))
            setattr(DF, attr, counted(DF.__dict__[attr], eager_arg=True))

    def restore(self) -> None:
        for module, attr, orig in reversed(self._restore):
            setattr(module, attr, orig)
        self._restore.clear()

    # -- read-out ---------------------------------------------------------

    def by_name(self) -> dict[str, list[Span]]:
        out: dict[str, list[Span]] = defaultdict(list)
        for s in self.spans:
            out[s.name].append(s)
        return out

    def total(self, name: str) -> float:
        return sum(s.duration for s in self.by_name().get(name, []))

    def durations_ms(self, name: str) -> list[float]:
        return [s.duration * 1000.0 for s in self.by_name().get(name, [])]

    def table(self) -> list[dict]:
        """One row per span name: calls, total, self and actions."""
        rows = []
        for name, spans in sorted(self.by_name().items()):
            rows.append(
                {
                    "span": name,
                    "calls": len(spans),
                    "total_s": round(sum(s.duration for s in spans), 6),
                    "self_s": round(sum(s.self_s for s in spans), 6),
                    "actions": sum(s.actions for s in spans),
                }
            )
        return rows


# -- Spark event log ------------------------------------------------------

SPARK_METRICS = (
    "jobs",
    "stages",
    "tasks",
    "tasks_failed",
    "executor_run_s",
    "executor_cpu_s",
    "jvm_gc_s",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "input_bytes",
    "output_bytes",
    "output_records",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    """``build_session(extra_conf=...)`` block that writes an uncompressed
    event log under ``log_dir`` (Spark 4 compresses with zstd by default)."""
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": log_dir,
        "spark.eventLog.compress": "false",
    }


def _empty() -> dict[str, float]:
    return {k: 0 for k in SPARK_METRICS}


def read_event_log(log_dir: str, window: tuple[float, float] | None = None) -> dict:
    """Aggregate task metrics from the event log(s) in ``log_dir``.

    Returns ``{"total": {...}, "spans": {span: {...}}, "window_spans":
    {span: {...}}}``.  With ``window`` (epoch seconds), ``total`` and
    ``window_spans`` cover only jobs submitted inside it; ``spans`` always
    covers the whole run.
    """
    job_span: dict[int, str | None] = {}
    job_in_window: dict[int, bool] = {}
    stage_job: dict[int, int] = {}
    stages_done: set[tuple[int, int]] = set()
    total = _empty()
    spans: dict[str, dict[str, float]] = defaultdict(_empty)
    window_spans: dict[str, dict[str, float]] = defaultdict(_empty)

    def buckets(job: int | None):
        out = []
        if job is None:
            return out
        in_window = job_in_window.get(job, window is None)
        name = job_span.get(job)
        if in_window:
            out.append(total)
        if name:
            out.append(spans[name])
            if in_window:
                out.append(window_spans[name])
        return out

    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>.
    paths = sorted(glob.glob(os.path.join(log_dir, "**", "events_*"), recursive=True),
                   key=lambda p: (os.path.dirname(p), int(os.path.basename(p).split("_")[1])))
    for path in paths:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    job_span[job] = props.get(SPAN_PROPERTY)
                    sub = ev.get("Submission Time", 0) / 1000.0
                    job_in_window[job] = window is None or window[0] <= sub <= window[1]
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, job)
                    for b in buckets(job):
                        b["jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    key = (info["Stage ID"], info.get("Stage Attempt ID", 0))
                    if key not in stages_done and "Completion Time" in info:
                        stages_done.add(key)
                        for b in buckets(stage_job.get(info["Stage ID"])):
                            b["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    bs = buckets(stage_job.get(ev["Stage ID"]))
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    inp = m.get("Input Metrics") or {}
                    out = m.get("Output Metrics") or {}
                    for b in bs:
                        b["tasks"] += 1
                        b["tasks_failed"] += int(bool(info.get("Failed")))
                        b["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                        b["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                        b["jvm_gc_s"] += m.get("JVM GC Time", 0) / 1e3
                        b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                        b["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                            "Local Bytes Read", 0
                        )
                        b["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                            "Disk Bytes Spilled", 0
                        )
                        b["input_bytes"] += inp.get("Bytes Read", 0)
                        b["output_bytes"] += out.get("Bytes Written", 0)
                        b["output_records"] += out.get("Records Written", 0)
    return {"total": total, "spans": dict(spans), "window_spans": dict(window_spans)}


# -- memory ---------------------------------------------------------------


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status", encoding="ascii") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb(jvm_pid: int | None) -> float:
    """Peak resident set of this process plus the JVM it launched (each
    process's own high-water mark, summed)."""
    kb = _vm_hwm_kb("self") + (_vm_hwm_kb(jvm_pid) if jvm_pid else 0)
    return kb / 1024.0


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def _processes() -> dict[int, tuple[int, str, int, float]]:
    """pid -> (parent pid, command name, start time in ticks, own user +
    system CPU seconds) for every process now running."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as fh:
                raw = fh.read()
        except OSError:  # exited while we looked
            continue
        head, tail = raw.rsplit(")", 1)
        fields = tail.split()
        # fields[1] parent pid, [11] utime, [12] stime, [19] start time
        out[int(name)] = (int(fields[1]), head.split("(", 1)[1], int(fields[19]),
                          (int(fields[11]) + int(fields[12])) * _TICK_S)
    return out


def _cpu_s(stat_path: str) -> float | None:
    """User + system CPU seconds from one ``/proc/.../stat`` file."""
    try:
        with open(stat_path, encoding="ascii", errors="replace") as fh:
            fields = fh.read().rsplit(")", 1)[1].split()
    except OSError:
        return None
    return (int(fields[11]) + int(fields[12])) * _TICK_S


def _compiler_threads(pid: int) -> list[str]:
    """The stat files of the JIT compiler threads of JVM ``pid``."""
    out = []
    task_dir = f"/proc/{pid}/task"
    for tid in os.listdir(task_dir):
        try:
            with open(f"{task_dir}/{tid}/comm", encoding="ascii", errors="replace") as fh:
                comm = fh.read()
        except OSError:
            continue
        if comm.startswith(("C1 Compiler", "C2 Compiler")):
            out.append(f"{task_dir}/{tid}/stat")
    return out


class CpuMeter:
    """CPU seconds, user plus system, used since the meter was entered by
    this process and every process it started (the JVM, the Python
    workers the JVM forks), less the JVM's JIT compiler threads.

    Time the host gave to other guests is not in it, so it drifts far less
    with the load on a shared host than wall time does.  JIT compilation
    is left out because it is warm-up: the compiler threads took more
    than half the CPU of a query in the first timed pass and 40-50% in the
    second, and how far compilation has got in a short run depends on the
    host, not on the program.  The JVM
    runs with a fixed set of compiler threads
    (``-XX:-UseDynamicNumberOfCompilerThreads``), found when the meter
    first sees the JVM.  A background thread looks at the process tree
    every ``interval`` seconds and keeps the last figure of each process,
    because the Python workers come and go and their parents do not
    collect their CPU time; what a process uses between its last look and
    its exit is missed.
    """

    def __init__(self, interval: float = 0.1):
        self._interval = interval
        self._first: dict[tuple, float] = {}
        self._last: dict[tuple, float] = {}
        self._compilers: dict[tuple[int, int], list[str]] = {}
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._poll, name="cpu-meter", daemon=True)

    def __enter__(self) -> "CpuMeter":
        self.read()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    def _poll(self) -> None:
        while not self._stop.wait(self._interval):
            self.read()

    def _see(self, key: tuple, cpu: float, started: bool) -> None:
        # Anything born after the meter started counts in full.
        self._first.setdefault(key, 0.0 if started else cpu)
        self._last[key] = cpu

    def read(self) -> float:
        """CPU seconds used since the meter was entered."""
        procs = _processes()
        children: dict[int, list[int]] = {}
        for pid, (ppid, _comm, _start, _cpu) in procs.items():
            children.setdefault(ppid, []).append(pid)
        with self._lock:
            started = bool(self._first)
            todo = [os.getpid()]
            while todo:
                pid = todo.pop()
                _ppid, comm, start, cpu = procs[pid]
                self._see(("proc", pid, start), cpu, started)
                if comm == "java":
                    if (pid, start) not in self._compilers:
                        self._compilers[(pid, start)] = _compiler_threads(pid)
                    for path in self._compilers[(pid, start)]:
                        jit = _cpu_s(path)
                        if jit is not None:
                            self._see(("jit", path, start), jit, started)
                todo += children.get(pid, [])
            return sum((self._last[k] - self._first[k]) * (-1 if k[0] == "jit" else 1)
                       for k in self._last)


def cached_bytes(sc) -> int:
    """Bytes held by cached RDDs and DataFrames, memory plus disk."""
    return sum(i.memSize() + i.diskSize() for i in sc._jsc.sc().getRDDStorageInfo())


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, ignoring Spark's marker and
    checksum files."""
    size = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(root, n))
            files += 1
    return size, files
