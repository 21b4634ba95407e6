"""In-memory spans and Spark executor-metric deltas for the traced run.

A span records name, start, end, parent span and the run id. Spans stay in
memory and are written out once, when the run ends. When tracing is off,
``span`` is a no-op context manager, so untraced runs pay nothing but the
call.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
import uuid

EXEC_FIELDS = {
    "task_ms": "totalDuration",
    "gc_ms": "totalGCTime",
    "shuffle_write_bytes": "totalShuffleWrite",
    "input_bytes": "totalInputBytes",
    "failed_tasks": "failedTasks",
}


# HotSpot's JIT compiler threads (comm names are cut to 15 characters)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    """Fields of a /proc stat file after the command name."""
    with open(path) as f:
        return f.read().rsplit(")", 1)[1].split()


def _ticks(fields: list[str]) -> int:
    return int(fields[11]) + int(fields[12])  # utime + stime


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the process's live JIT compiler threads."""
    ticks = 0
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if f.read().strip() not in JIT_THREADS:
                    continue
            ticks += _ticks(_stat_fields(f"/proc/{pid}/task/{tid}/stat"))
        except OSError:
            pass
    return ticks


def tree_cpu_seconds(root_pid: int) -> tuple[float, float]:
    """CPU seconds used so far by ``root_pid`` and every live descendant
    (the JVM and its Python workers), as (work, JIT): JIT compilation is
    split out, because it is the JVM's own warm-up and its share of a
    call varies from run to run. The JVM must keep its compiler threads
    alive (``-XX:-UseDynamicNumberOfCompilerThreads``); the CPU of an
    exited thread stays in its process's total but can no longer be told
    apart. The kernel charges steal time to no process, so both move with
    the work done, not with how much CPU the host lent the guest."""
    procs = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                f = _stat_fields(f"/proc/{d}/stat")
                procs[int(d)] = (int(f[1]), _ticks(f))
            except (OSError, IndexError, ValueError):
                pass
    tree, frontier = {root_pid}, [root_pid]
    while frontier:
        p = frontier.pop()
        for c, (ppid, _) in procs.items():
            if ppid == p and c not in tree:
                tree.add(c)
                frontier.append(c)
    ticks = jit = 0
    for p in tree & procs.keys():
        ticks += procs[p][1]
        with contextlib.suppress(OSError):
            jit += _jit_ticks(p)
    hz = os.sysconf("SC_CLK_TCK")
    return (ticks - jit) / hz, jit / hz


def executor_totals(spark) -> dict:
    """Cumulative executor metrics from the application status store
    (all executors, including the driver in local mode). The store is
    filled from the listener bus asynchronously, so the bus is drained
    first: the task-end events of the call just made count in its span,
    not in the next one."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty(60_000)
    seq = sc.statusStore().executorList(True)
    out = dict.fromkeys(EXEC_FIELDS, 0)
    for i in range(seq.size()):
        e = seq.apply(i)
        for k, getter in EXEC_FIELDS.items():
            out[k] += int(getattr(e, getter)())
    return out


class Tracer:
    def __init__(self, enabled: bool, spark=None):
        self.enabled = enabled
        self.spark = spark
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a call; with tracing on, also record the executor-metric
        delta over it. Yields a dict the caller may add counts to."""
        if not self.enabled:
            yield attrs
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "run_id": self.run_id, "name": name,
               "parent": parent, "attrs": attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        before = executor_totals(self.spark) if self.spark else None
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if before is not None:
                after = executor_totals(self.spark)
                rec["spark"] = {k: after[k] - before[k] for k in after}

    def self_times(self) -> dict:
        """Total self time per span name: duration minus the part of the
        interval its child spans cover (children never overlap here, the
        run is single-threaded)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                d = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def total(self, name: str, key: str | None = None) -> float:
        """Sum over spans called ``name`` of their duration, or of a
        spark-metric delta when ``key`` is given."""
        t = 0.0
        for s in self.spans:
            if s["name"] == name and "end" in s:
                t += s["spark"][key] if key else s["end"] - s["start"]
        return t

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")
