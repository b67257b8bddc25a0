"""Counters read from outside the program: the host, the process tree,
the JVM's management beans and Spark's status store.

Each reader returns cumulative totals; the benchmark takes deltas at
cycle and span boundaries. The JVM and status-store readers go through
py4j and are only used by traced runs; the process-tree CPU and host
readers are cheap enough for every run.
"""

from __future__ import annotations

import os
import re

_TICK = os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Seconds of CPU time the hypervisor took from this host (all CPUs)."""
    with open("/proc/stat", encoding="ascii") as f:
        fields = f.readline().split()
    return int(fields[8]) / _TICK if len(fields) > 8 else 0.0


def load_average() -> float:
    return os.getloadavg()[0]


def _proc_table() -> tuple[dict[int, int], dict[int, float]]:
    """pid -> parent pid, and pid -> CPU seconds of it and its reaped children."""
    parent: dict[int, int] = {}
    cpu: dict[int, float] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2 :].split()
        pid = int(name)
        parent[pid] = int(rest[1])
        # utime stime cutime cstime are fields 14-17 of stat
        cpu[pid] = sum(int(x) for x in rest[11:15]) / _TICK
    return parent, cpu


def start_times(pids) -> dict[int, int]:
    """pid -> start time in clock ticks since boot, for the given pids
    that are still alive; (pid, start time) names a process even if its
    pid is reused."""
    out = {}
    for pid in pids:
        try:
            with open(f"/proc/{pid}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        out[pid] = int(raw[raw.rfind(")") + 2 :].split()[19])
    return out


def descendants(root_pid: int) -> list[int]:
    parent, _cpu = _proc_table()
    return _below(root_pid, parent)


def _below(root_pid: int, parent: dict[int, int]) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid, ppid in parent.items():
        children.setdefault(ppid, []).append(pid)
    out, stack = [], list(children.get(root_pid, ()))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, ()))
    return out


def tree_cpu_s(root_pid: int | None = None) -> float:
    """User + system CPU seconds of ``root_pid`` (default: this process)
    and all its live descendants, including the children they have
    already reaped: this Python process, the JVM and its Python workers."""
    root_pid = root_pid or os.getpid()
    parent, cpu = _proc_table()
    return sum(cpu.get(p, 0.0) for p in [root_pid] + _below(root_pid, parent))


def compiler_threads_cpu(jvm_pid: int) -> dict[int, float]:
    """CPU seconds of each live JIT compiler thread of the JVM (thread id ->
    seconds), from ``/proc/<pid>/task``."""
    out: dict[int, float] = {}
    base = f"/proc/{jvm_pid}/task"
    try:
        tids = os.listdir(base)
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"{base}/{tid}/comm", encoding="ascii", errors="replace") as f:
                if not f.read().startswith(("C1 CompilerThre", "C2 CompilerThre")):
                    continue
            with open(f"{base}/{tid}/stat", encoding="ascii", errors="replace") as f:
                raw = f.read()
        except OSError:
            continue
        rest = raw[raw.rfind(")") + 2 :].split()
        out[int(tid)] = (int(rest[11]) + int(rest[12])) / _TICK
    return out


def compiler_cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """Compiler-thread CPU between two readings. A thread that appeared
    counts from zero; one that exited in between is not seen (the JVM
    retires compiler threads only after they idle)."""
    return sum(v - before.get(tid, 0.0) for tid, v in after.items())


class JvmProbe:
    """JIT, GC and whole-stage-codegen totals of the Spark JVM."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()

    def read(self) -> dict[str, float]:
        return {
            "jvm.jit_compile_s": self._jit.getTotalCompilationTime() / 1000.0,
            "jvm.gc_s": sum(g.getCollectionTime() for g in self._gcs) / 1000.0,
            "codegen.classes_compiled": float(self._codegen.getCount()),
        }


_NUM_RE = re.compile(r"-?[0-9][0-9,]*(?:\.[0-9]+)?")
_SIZE_RE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*(B|KiB|MiB|GiB|TiB)\b")
_SIZE_UNIT = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _first_number(s: str) -> float:
    m = _NUM_RE.search(s or "")
    return float(m.group(0).replace(",", "")) if m else 0.0


def _first_size(s: str) -> float:
    m = _SIZE_RE.search(s or "")
    return float(m.group(1).replace(",", "")) * _SIZE_UNIT[m.group(2)] if m else 0.0


def _count(counter) -> int:
    """The DAG scheduler's job and stage id counters, whether py4j hands
    back the ``AtomicInteger`` or its value."""
    return counter if isinstance(counter, int) else counter.get()


class StatusProbe:
    """Job, stage, task, input, shuffle, spill and executor-time totals from
    Spark's status store, plus rows and bytes through the Python-worker
    plan nodes (``ArrowEvalPython``, ``FlatMapGroupsInPandas``, …) from
    the SQL status store. Totals are kept incrementally: each ``read``
    visits only the stages and SQL executions that appeared since the
    previous one, so the store's retention limits never drop work."""

    _PY_NODE = re.compile(r"Python|Pandas|Arrow")

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()
        self._jvm = spark.sparkContext._jvm
        self._store = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._next_stage = 0
        self._next_exec = 0
        self._tot = dict.fromkeys(
            (
                "spark.jobs",
                "spark.stages",
                "spark.tasks",
                "spark.input_bytes",
                "spark.shuffle_write_bytes",
                "spark.shuffle_read_bytes",
                "spark.spill_bytes",
                "spark.executor_run_s",
                "spark.executor_cpu_s",
                "python_worker.rows",
                "python_worker.bytes",
            ),
            0.0,
        )
        self._next_job = 0
        self.read()  # start from the current state
        for k in self._tot:
            self._tot[k] = 0.0

    def jobs_started(self) -> int:
        """Jobs submitted so far (cheap: one counter, no store walk)."""
        return _count(self._sc.dagScheduler().nextJobId())

    def _drain(self) -> None:
        # Listener events are delivered asynchronously; wait until the
        # status store has seen every job that has already finished.
        self._sc.listenerBus().waitUntilEmpty(10_000)

    def read(self) -> dict[str, float]:
        self._drain()
        conv = self._jvm.scala.collection.JavaConverters
        dag = self._sc.dagScheduler()
        next_job = _count(dag.nextJobId())
        self._tot["spark.jobs"] += next_job - self._next_job
        self._next_job = next_job
        sid, upto = self._next_stage, _count(dag.nextStageId())
        while sid < upto:
            try:
                st = self._store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 — a stage id the store never saw
                sid += 1
                continue
            if str(st.status()) in ("ACTIVE", "PENDING"):
                break
            self._tot["spark.stages"] += 1
            self._tot["spark.tasks"] += st.numCompleteTasks()
            self._tot["spark.input_bytes"] += st.inputBytes()
            self._tot["spark.shuffle_write_bytes"] += st.shuffleWriteBytes()
            self._tot["spark.shuffle_read_bytes"] += st.shuffleReadBytes()
            self._tot["spark.spill_bytes"] += st.diskBytesSpilled()
            self._tot["spark.executor_run_s"] += st.executorRunTime() / 1000.0
            self._tot["spark.executor_cpu_s"] += st.executorCpuTime() / 1e9
            sid += 1
        self._next_stage = sid
        execs = conv.seqAsJavaList(self._sql.executionsList())
        fresh = []
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.get(i)
            if ex.executionId() < self._next_exec:
                break
            fresh.append(ex)
        for ex in reversed(fresh):
            eid = ex.executionId()
            if ex.completionTime().isEmpty():
                break
            try:
                values = conv.mapAsJavaMap(self._sql.executionMetrics(eid))
                nodes = conv.seqAsJavaList(self._sql.planGraph(eid).allNodes())
            except Exception:  # noqa: BLE001 — execution evicted mid-walk
                continue
            for node in nodes:
                if not self._PY_NODE.search(node.name()):
                    continue
                for m in conv.seqAsJavaList(node.metrics()):
                    name = m.name().lower()
                    value = values.get(m.accumulatorId())
                    if name == "number of output rows":
                        self._tot["python_worker.rows"] += _first_number(value)
                    elif "python workers" in name:
                        self._tot["python_worker.bytes"] += _first_size(value)
            self._next_exec = max(self._next_exec, eid + 1)
        return dict(self._tot)


def catalyst_ms(df) -> dict[str, float]:
    """Analysis, optimization and planning time of a DataFrame's query
    execution, from its ``QueryPlanningTracker``."""
    out = {"catalyst.analysis_ms": 0.0, "catalyst.optimization_ms": 0.0, "catalyst.planning_ms": 0.0}
    try:
        phases = df._jdf.queryExecution().tracker().phases()
    except Exception:  # noqa: BLE001 — e.g. a streaming sink's table; no tracker
        return out
    for phase in ("analysis", "optimization", "planning"):
        got = phases.get(phase)
        if got is not None and not got.isEmpty():
            out[f"catalyst.{phase}_ms"] = float(got.get().durationMs())
    return out
