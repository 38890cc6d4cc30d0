"""Measurement plumbing shared by the workloads.

* :class:`Tracer` keeps spans (name, start, end, parent, run id) in
  memory, writes them out when the run ends and derives each layer's
  self time. It is only switched on with ``--trace 1``; untraced runs
  install no wrappers at all.
* :func:`wrap_methods` times calls into a module's public functions by
  replacing them on the *instances* the benchmark created, so nothing
  inside ``pypeman_spark/`` is instrumented.
* :class:`SparkCounters` reads job/stage/task counts from the Spark
  status store and GC time from the JVM.
* :func:`tree_cpu_s` sums the CPU time of this process, the JVM and the
  Python workers from ``/proc``, less the JVM's JIT compiler threads.
"""

from __future__ import annotations

import functools
import json
import math
import os
import statistics
import threading
import time

# layers, in the order their spans nest; "bench" is the benchmark's own
# op span (waiting and orchestration in this process, outside the program)
LAYERS = ("bench", "streaming", "admin", "retry", "pipeline", "msgstore")


def median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def geomean(values) -> float:
    values = [v for v in values if v > 0]
    if not values:
        return 0.0
    return math.exp(sum(math.log(v) for v in values) / len(values))


class Tracer:
    """In-memory span recorder. Spans opened on a thread with no open
    span (the foreachBatch callback runs on a py4j thread) take the
    current op span as parent, so one op's spans form one tree."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._local = threading.local()
        self._op_span: int | None = None
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin(self, name: str, layer: str) -> int:
        stack = self._stack()
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            sid = len(self.spans)
            self.spans.append({
                "id": sid, "name": name, "layer": layer, "parent": parent,
                "run_id": self.run_id, "start": time.perf_counter(),
                "end": None,
            })
        stack.append(sid)
        if layer == "bench":
            self._op_span = sid
        return sid

    def end(self, sid: int) -> None:
        self.spans[sid]["end"] = time.perf_counter()
        stack = self._stack()
        if stack and stack[-1] == sid:
            stack.pop()
        if self._op_span == sid:
            self._op_span = None

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans
                if s["name"] == name and s["end"] is not None]

    def self_times(self) -> dict[str, float]:
        """Per layer: summed span time minus the part of each span's
        interval that its child spans cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = {layer: 0.0 for layer in LAYERS}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_start, cur_end = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_end is None or lo > cur_end:
                    if cur_end is not None:
                        covered += cur_end - cur_start
                    cur_start, cur_end = lo, hi
                else:
                    cur_end = max(cur_end, hi)
            if cur_end is not None:
                covered += cur_end - cur_start
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


def wrap_methods(tracer: Tracer, obj, layer: str, names: dict[str, str]) -> None:
    """Replace ``obj.<method>`` with a timed wrapper on the instance;
    ``names`` maps method name to span name. Internal calls through
    ``self.<method>`` hit the wrapper too, so nesting is recorded."""
    for method, span_name in names.items():
        inner = getattr(obj, method)

        @functools.wraps(inner)
        def timed(*args, _inner=inner, _name=span_name, **kwargs):
            sid = tracer.begin(_name, layer)
            try:
                return _inner(*args, **kwargs)
            finally:
                tracer.end(sid)

        setattr(obj, method, timed)


class SparkCounters:
    """Job/stage/task counts of the jobs started since the last mark,
    read from the status store (kept with ``spark.ui.enabled=false``),
    plus cumulative JVM GC milliseconds."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark._jvm
        self._last_job = self._max_job_id()

    def _jobs_after(self, job_id: int) -> list:
        # job and stage end events reach the status store through the
        # asynchronous listener bus; drain it so no finished job is missed
        self._sc.listenerBus().waitUntilEmpty(60_000)
        jobs = self._sc.statusStore().jobsList(None)
        out = []
        # newest job first; stop at the first one at or before the mark
        for i in range(jobs.size()):
            job = jobs.apply(i)
            if job.jobId() <= job_id:
                break
            out.append(job)
        return out

    def _max_job_id(self) -> int:
        self._sc.listenerBus().waitUntilEmpty(60_000)
        jobs = self._sc.statusStore().jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def mark(self) -> None:
        self._last_job = self._max_job_id()

    def since_mark(self) -> tuple[int, int, int]:
        jobs = self._jobs_after(self._last_job)
        return (
            len(jobs),
            sum(j.numCompletedStages() for j in jobs),
            sum(j.numCompletedTasks() for j in jobs),
        )

    def gc_ms(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory \
            .getGarbageCollectorMXBeans()
        return float(sum(b.getCollectionTime() for b in beans))


# thread names (truncated to 15 characters) of the JVM's JIT compilers
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(command name, fields after it) of one /proc stat file."""
    try:
        with open(path) as fh:
            raw = fh.read()
    except OSError:
        return None
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _jit_ticks(pid: int) -> int:
    """CPU ticks of the live JIT compiler threads of process ``pid``
    (the JVM runs with a fixed set of them, so none exits mid-run)."""
    total = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and st[0] in JIT_THREADS:
            total += int(st[1][11]) + int(st[1][12])
    return total


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User+system CPU seconds of ``root_pid`` and every live descendant,
    including reaped children's time (cutime/cstime), from ``/proc``,
    less the time of the JVM's JIT compiler threads. JIT compilation is
    warm-up a long-running channel pays once; in a run of a minute it
    is still going on, and it varied more between runs than the rest
    (2 to 13 CPU-seconds per batch)."""
    root_pid = os.getpid() if root_pid is None else root_pid
    tick = os.sysconf("SC_CLK_TCK")
    parent, ticks, comm = {}, {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        st = _stat(f"/proc/{name}/stat")
        if st is None:
            continue
        pid = int(name)
        comm[pid] = st[0]
        parent[pid] = int(st[1][1])
        ticks[pid] = sum(int(x) for x in st[1][11:15])
    total = 0
    for pid in ticks:
        p = pid
        while p and p != root_pid:
            p = parent.get(p, 0)
        if p == root_pid:
            total += ticks[pid]
            if comm[pid] == "java":
                total -= _jit_ticks(pid)
    return total / tick


def dir_stats(path: str) -> tuple[int, int]:
    """(file count, total bytes) under ``path``."""
    files = size = 0
    for dp, _dn, fns in os.walk(path):
        for f in fns:
            files += 1
            size += os.path.getsize(os.path.join(dp, f))
    return files, size


class OpLog:
    """Closed-loop op bookkeeping: per-kind latencies, attempted and
    failed counts, and the first failure messages for the log."""

    def __init__(self):
        self.latency: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []

    def record(self, kind: str, seconds: float | None, error: str | None) -> None:
        self.attempted += 1
        if seconds is not None:
            self.latency.setdefault(kind, []).append(seconds)
        if error is not None:
            self.failed += 1
            if len(self.failures) < 20:
                self.failures.append(f"{kind}: {error}")

    def op_latency_s(self) -> float:
        return geomean(median(v) for v in self.latency.values())

    def ops_per_s(self) -> float:
        busy = sum(sum(v) for v in self.latency.values())
        n = sum(len(v) for v in self.latency.values())
        return n / busy if busy else 0.0
