"""Outside-in layer trace.

Spans are opened by the benchmark around each call it makes into the
package; nothing inside the package is instrumented. At each span
boundary the tracer reads:

* the Spark status store (``SparkContext.statusStore()``), which keeps
  working with the UI disabled. Jobs and stages are counted by id
  delta, not by job group, because Structured Streaming micro-batches
  run on the stream thread and escape ``setJobGroup``. The live store
  keeps only the last 1000 jobs and stages, so the deltas are read at
  every span boundary;
* ``/proc`` for the CPU time of the PySpark worker processes under the
  JVM (a reaped worker's time moves into its parent's ``cutime``, so
  the sum over live descendants stays monotonic);
* a QueryExecutionListener for Catalyst phase times, taken from the
  QueryExecution that actually executed (a DataFrame's own
  ``queryExecution().tracker()`` holds only the analysis phase after a
  noop write).

Spans are kept in memory and written once at run end.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

from . import stats

COUNTERS = ("calls", "busy_s", "jobs", "tasks", "shuffle_bytes", "py_worker_cpu_s")
STORE_COUNTERS = ("jobs", "stages", "tasks", "shuffle_bytes", "spill_bytes", "output_bytes")
_CLK = os.sysconf("SC_CLK_TCK")


# --------------------------------------------------------------------------
# readers
# --------------------------------------------------------------------------


def _proc_stat(pid: str):
    """(comm, ppid, utime+stime+cutime+cstime ticks) of one process."""
    with open(f"/proc/{pid}/stat", "rb") as f:
        raw = f.read().decode("utf-8", "replace")
    comm = raw[raw.index("(") + 1 : raw.rindex(")")]
    rest = raw[raw.rindex(")") + 2 :].split()
    return comm, int(rest[1]), sum(int(x) for x in rest[11:15])


def _proc_table() -> dict[int, tuple]:
    procs = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                procs[int(pid)] = _proc_stat(pid)
            except (OSError, ValueError, IndexError):
                continue  # exited while listing
    return procs


def descendants(pid: int, procs: dict | None = None) -> list[int]:
    """Pids of every process below ``pid`` in the process tree."""
    procs = _proc_table() if procs is None else procs
    children: dict[int, list[int]] = {}
    for child, (_comm, ppid, _t) in procs.items():
        children.setdefault(ppid, []).append(child)
    out, todo = [], list(children.get(pid, []))
    while todo:
        cur = todo.pop()
        out.append(cur)
        todo.extend(children.get(cur, []))
    return out


def py_worker_cpu_s(jvm_pid: int) -> float:
    """utime+stime (own and reaped children) of every Python process
    descended from the JVM: the pyspark daemon and its workers."""
    procs = _proc_table()
    ticks = sum(procs[p][2] for p in descendants(jvm_pid, procs) if "python" in procs[p][0])
    return ticks / _CLK


def vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status", encoding="ascii") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


class StatusStore:
    """Incremental reader of the live Spark status store. Every
    ``read()`` consumes the jobs and stages that appeared since the
    previous one and adds them to running totals."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._ssc = sc._jsc.sc()
        self._store = self._ssc.statusStore()
        self._empty_q = sc._gateway.new_array(self._jvm.double, 0)
        self._empty_l = self._jvm.java.util.ArrayList()
        self._gcs = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        self.totals = dict.fromkeys(STORE_COUNTERS, 0)
        self._last_job = self._last_stage = -1
        self.drain()
        self._last_job = self._top_job()
        self._last_stage = self._top_stage()
        self.totals = dict.fromkeys(self.totals, 0)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every posted event,
        so the store (and the QueryExecution listener) are current."""
        self._ssc.listenerBus().waitUntilEmpty()

    def _jobs(self):
        return self._store.jobsList(None)  # newest first

    def _stages(self):
        # Scala default arguments are not visible through py4j: all 5
        return self._store.stageList(None, False, False, self._empty_q, self._empty_l)

    def _top_job(self) -> int:
        jobs = self._jobs()
        return jobs.apply(0).jobId() if jobs.length() else -1

    def _top_stage(self) -> int:
        stages = self._stages()
        return stages.apply(0).stageId() if stages.length() else -1

    def read(self) -> dict:
        self.drain()
        jobs = self._jobs()
        top_job = self._last_job
        for i in range(jobs.length()):
            jid = jobs.apply(i).jobId()
            if jid <= self._last_job:
                break
            top_job = max(top_job, jid)
            self.totals["jobs"] += 1
        self._last_job = top_job
        stages = self._stages()
        top_stage = self._last_stage
        for i in range(stages.length()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self._last_stage:
                break
            top_stage = max(top_stage, sid)
            if st.status().toString() == "SKIPPED":
                continue
            self.totals["stages"] += 1
            self.totals["tasks"] += st.numCompleteTasks()
            self.totals["shuffle_bytes"] += st.shuffleWriteBytes()
            self.totals["spill_bytes"] += st.diskBytesSpilled()
            self.totals["output_bytes"] += st.outputBytes()
        self._last_stage = top_stage
        return dict(self.totals)

    def gc_s(self) -> float:
        return sum(self._gcs.get(i).getCollectionTime() for i in range(self._gcs.size())) / 1e3


class CatalystListener:
    """py4j implementation of ``QueryExecutionListener``: sums the
    analysis, optimization and planning phases of every executed
    QueryExecution."""

    PHASES = ("analysis", "optimization", "planning")

    def __init__(self):
        self.active = False
        self.ms = 0.0
        self.queries = 0

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (Java name)
        self._add(qe)

    def onFailure(self, func_name, qe, exc):  # noqa: N802
        self._add(qe)

    def _add(self, qe):
        if not self.active:
            return
        phases = qe.tracker().phases()
        for name in self.PHASES:
            found = phases.get(name)
            if found.isDefined():
                self.ms += found.get().durationMs()
        self.queries += 1

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


# --------------------------------------------------------------------------
# spans
# --------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    shuffle_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    py_worker_cpu_s: float = 0.0
    children: list[int] = field(default_factory=list)


class Tracer:
    """Spans around the benchmark's calls into the package. Disabled,
    every method is a pass-through that reads nothing."""

    def __init__(self, spark=None):
        self.enabled = False
        self.spans: list[Span] = []
        self.ops: list[dict] = []
        self._stack: list[int] = []
        self._op = -1
        if spark is None:
            return
        self._jvm_pid = spark.sparkContext._gateway.proc.pid
        self.store = StatusStore(spark)
        self.listener = CatalystListener()
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(spark.sparkContext._gateway)
        # registered once: py4j makes a new Java proxy per call, so an
        # unregister could never match the registered proxy
        spark._jsparkSession.listenerManager().register(self.listener)
        self.construct_s = 0.0
        self.construct_jobs = 0
        self.gc_s = 0.0
        self.catalyst_ms = 0.0

    def _snap(self) -> tuple[dict, float]:
        return self.store.read(), py_worker_cpu_s(self._jvm_pid)

    # -- op boundaries ------------------------------------------------------
    def begin_op(self, label: str) -> None:
        """Start a traced op: discard store deltas of untraced work."""
        self._snap()
        self.enabled = True
        self._op = len(self.ops)
        self.listener.active = True
        self._op_gc = self.store.gc_s()
        self._op_ms = self.listener.ms
        self.ops.append({"op": self._op, "label": label, "start": time.perf_counter()})

    def end_op(self) -> None:
        op = self.ops[-1]
        op["end"] = time.perf_counter()
        self.store.drain()
        self.listener.active = False
        self.gc_s += self.store.gc_s() - self._op_gc
        self.catalyst_ms += self.listener.ms - self._op_ms
        wall = op["end"] - op["start"]
        top = [(s.start, s.end) for s in self.spans if s.op == self._op and s.parent is None]
        op["coverage"] = stats.union_length(top) / wall if wall > 0 else 1.0
        self.enabled = False

    # -- spans --------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        # bookkeeping sits inside the span, so spans cover the op
        s = Span(name, self._op, parent, time.perf_counter())
        before, cpu0 = self._snap()
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self._stack.append(idx)
        try:
            yield s
        finally:
            self._stack.pop()
            after, cpu1 = self._snap()
            for k in STORE_COUNTERS:
                setattr(s, k, after[k] - before[k])
            s.py_worker_cpu_s = cpu1 - cpu0
            s.end = time.perf_counter()

    def call(self, name: str, fn, *args, **kwargs):
        """``fn(*args, **kwargs)`` inside span ``name``, through
        ``construct``."""
        with self.span(name):
            return self.construct(fn, *args, **kwargs)

    def construct(self, fn, *args, **kwargs):
        """``fn(*args, **kwargs)``. A call that returns a DataFrame is
        construction work: its time and jobs add to ``spark.construct_*``."""
        if not self.enabled:
            return fn(*args, **kwargs)
        jobs, t0 = self.store.read()["jobs"], time.perf_counter()
        out = fn(*args, **kwargs)
        if _is_dataframe(out):
            self.construct_s += time.perf_counter() - t0
            self.construct_jobs += self.store.read()["jobs"] - jobs
        return out

    # -- results --------------------------------------------------------------
    def layer_metrics(self, span_names) -> dict:
        """``<span>.<counter>`` for every named span; counts and busy
        time are self values (children subtracted)."""
        out = {f"{n}.{c}": 0.0 for n in span_names for c in COUNTERS}
        for s in self.spans:
            if s.name not in span_names:
                continue
            kids = [self.spans[i] for i in s.children]
            busy = stats.self_time(s.start, s.end, [(k.start, k.end) for k in kids])
            out[f"{s.name}.calls"] += 1
            out[f"{s.name}.busy_s"] += busy
            for c in ("jobs", "tasks", "shuffle_bytes", "py_worker_cpu_s"):
                out[f"{s.name}.{c}"] += getattr(s, c) - sum(getattr(k, c) for k in kids)
        return out

    def totals(self) -> dict:
        t = {"stages": 0, "spill_bytes": 0}
        for s in self.spans:
            if s.parent is None:
                t["stages"] += s.stages
                t["spill_bytes"] += s.spill_bytes
        return t

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            json.dump(
                {"ops": self.ops, "spans": [asdict(s) for s in self.spans]},
                f,
                indent=None,
            )


def _is_dataframe(obj) -> bool:
    from pyspark.sql import DataFrame

    return isinstance(obj, DataFrame)
