"""What every workload shares: set-up timing, the warm-up and timed
cycles, and the reduction of per-cycle figures to run metrics.

A workload supplies:

- ``setup(k)``: session start, imports and the program-side seeding;
  called ``n_setups`` times. Set-up 0 also launches the JVM and pays the
  imports; the later ones restart the session in the running JVM, and
  the median of those is ``setup_s``. The previous session is stopped
  before a set-up's clock starts;
- ``after_setup()``: work that belongs neither to set-up nor to a cycle
  (DuckDB's answers, span wrappers);
- ``restore(i)``: puts the on-disk state back before cycle ``i``, outside
  the timed window;
- ``cycle(i)``: the timed program calls. It returns a dict of figures for
  the cycle, with ``ops`` the number of program operations it ran;
- ``after_cycle(i)``: figures and checks taken after the cycle's counters;
- ``check(i)``: compares outputs with answers computed apart from the
  program and raises ``CheckFailed`` on a mismatch. It runs once, after
  the last timed cycle (``cycle`` and ``after_cycle`` check what is cheap
  to check every cycle);
- ``run_layer(cycles, cold)``: the workload's own per-layer figures.
"""

from __future__ import annotations

import statistics
import time

import probes
from metrics import PER_LAYER
from spans import Tracer


class CheckFailed(AssertionError):
    """An output of the program differs from the independently computed answer."""


def require(ok: bool, what: str) -> None:
    if not ok:
        raise CheckFailed(what)


class Run:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str, nproc: int):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.nproc = nproc
        self.tracer = Tracer(trace)
        self.traced = trace
        self.spark = None
        self.jvm = None
        self.status = None
        self.attempted = 0
        self.failed = 0
        self.counters: list[dict] = []
        self.failures: dict[str, str] = {}
        self.session_starts: list[float] = []

    def note_failure(self, op: str, err: Exception) -> None:
        """Keep the first line of each distinct failure for the run record."""
        first = str(err).strip().splitlines()[0][:300] if str(err).strip() else type(err).__name__
        self.failures.setdefault(op, first)

    # -- session --------------------------------------------------------
    def start_session(self):
        """The program's own session factory; first call starts the JVM."""
        from us_stock_data_pipeline_spark.session import get_spark

        with self.tracer.span("session.start"):
            t0 = time.perf_counter()
            self.spark = get_spark(f"perfbench-{self.workload}")
            self.session_starts.append(time.perf_counter() - t0)
        self.spark.sparkContext.setLogLevel("ERROR")
        from pyspark import SparkContext

        self.jvm_pid = SparkContext._gateway.proc.pid
        self.jvm = probes.JvmProbe(self.spark)
        self.status = probes.StatusProbe(self.spark) if self.traced else None
        return self.spark

    def counters_now(self) -> dict[str, float]:
        out = {
            "cpu_s": probes.tree_cpu_s(),
            "jit_threads": probes.compiler_threads_cpu(self.jvm_pid),
            "host.steal_s": probes.host_steal_s(),
            "wall": time.perf_counter(),
        }
        out.update(self.jvm.read())
        if self.status is not None:
            out.update(self.status.read())
        return out

    # -- the run --------------------------------------------------------
    def execute(self, wl, n_setups: int, warmup: int, min_timed: int) -> dict:
        """``n_setups`` set-ups, then ``warmup`` untimed cycles (the first is the cold
        cycle), then timed cycles for ``seconds`` and at least ``min_timed``."""
        t_run = time.perf_counter()
        load0, steal0 = probes.load_average(), probes.host_steal_s()
        setups = []
        for k in range(n_setups):
            self.tracer.cycle = f"setup{k}"
            if self.spark is not None:  # stopping a session is not set-up
                self.spark.stop()
                self.spark = None
            t0 = time.perf_counter()
            with self.tracer.span("setup"):
                wl.setup(k)
            setups.append(time.perf_counter() - t0)
        wl.after_setup()

        cycles: list[dict] = []
        for w in range(warmup):
            fig = self._one_cycle(wl, f"warmup{w}", w)
            if w == 0:
                self.cold = fig
        self.warmup_cycles = warmup

        t_timed = time.perf_counter()
        i = warmup
        while len(cycles) < min_timed or time.perf_counter() - t_timed < self.seconds:
            cycles.append(self._one_cycle(wl, f"cycle{i}", i))
            i += 1
        wl.check(i - 1)
        self.timed_s = time.perf_counter() - t_timed
        self.steal_s = probes.host_steal_s() - steal0
        self.load_avg = (load0 + probes.load_average()) / 2
        self.run_s = time.perf_counter() - t_run
        self.setups = setups
        return self._reduce(wl, cycles, setups)

    def _one_cycle(self, wl, cycle_id: str, i: int) -> dict:
        wl.restore(i)
        self.tracer.cycle = cycle_id
        before = self.counters_now()
        with self.tracer.span("cycle"):
            fig = wl.cycle(i)
        after = self.counters_now()
        self.attempted += fig.pop("ops")
        jit_cpu = probes.compiler_cpu_delta(before.pop("jit_threads"), after.pop("jit_threads"))
        delta = {k: after[k] - before[k] for k in before}
        fig.setdefault("cycle_s", delta["wall"])
        # The JIT still compiles in every cycle the time budget allows
        # (see README), so the program's CPU is counted without it.
        fig["cpu_s_per_cycle"] = delta.pop("cpu_s") - jit_cpu
        fig["jvm.jit_cpu_s"] = jit_cpu
        delta.pop("wall")
        fig.update(delta)
        fig.update(wl.after_cycle(i))
        if self.traced:
            self.counters.append({"cycle": cycle_id, **{k: v for k, v in fig.items() if not isinstance(v, str)}})
        return fig

    def _reduce(self, wl, cycles: list[dict], setups: list[float]) -> dict:
        def med(key):
            return statistics.median(c[key] for c in cycles)

        self.cycle_s = med("cycle_s")
        if not self.traced:
            return {"setup_s": statistics.median(setups[1:]), "cpu_s_per_cycle": med("cpu_s_per_cycle")}
        layer = {k: 0.0 for k in PER_LAYER}
        for key in PER_LAYER:
            if key in cycles[0]:
                layer[key] = med(key)
        layer["session.start_s"] = statistics.median(self.session_starts[1:])
        layer["cold_cycle_s"] = self.cold["cycle_s"]
        layer.update(wl.run_layer(cycles, self.cold))
        return layer

    def record(self) -> dict:
        """The weather and bookkeeping line written to stderr and the trace."""
        return {
            "workload": self.workload,
            "seed": self.seed,
            "warmup_cycles": self.warmup_cycles,
            "timed_s": round(self.timed_s, 3),
            "cycle_s": round(self.cycle_s, 3),
            "run_s": round(self.run_s, 3),
            "setups_s": [round(s, 3) for s in self.setups],
            "steal_s": round(self.steal_s, 3),
            "load_avg": round(self.load_avg, 2),
            "attempted": self.attempted,
            "failed": self.failed,
            "failures": self.failures,
        }
