"""Benchmark of the bars pipeline, versioned restatements and the query mix.

    python3 perfbench/run.py --workload bars_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Inputs are generated from ``--seed``
into a scratch directory under ``.perfbench_work/`` that is removed at
exit; Spark's local dirs and temp files go there too. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). Traced runs also write their spans and counter deltas
to ``.perfbench_traces/``. A one-line record of the run's warm-up,
steal and load goes to stderr.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "us_stock_data_pipeline_spark"

# workload -> (module, class, set-ups, untimed warm-up cycles including
# the cold one, least number of timed cycles); see README for how these
# were set
WORKLOADS = {
    "bars_pipeline": ("pipeline", "BarsPipeline", 3, 1, 2),
    "query_mix": ("mix", "QueryMix", 5, 3, 3),
}


def _prepare_env(work: str, nproc: int) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise keep /tmp/hsperfdata_<user>
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # The program's 8g default heap grew the JVM past 3 GB on these small
    # inputs; the host is shared, so the benchmark keeps it to 2g.
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # Python workers import the program (data sources, UDFs) by name
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["TZ"] = "UTC"
    time.tzset()
    import tempfile

    tempfile.tempdir = tmp
    os.chdir(work)  # spark-warehouse, metastore and derby.log land here


def _stop_jvm() -> None:
    """End the py4j gateway JVM and wait until it and every process under
    this one (Python workers, data-source planners) have exited."""
    from pyspark import SparkContext

    import probes

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    # taken while the JVM lives: its Python workers are reparented when it exits
    started = probes.start_times(probes.descendants(os.getpid()))
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF of its stdin
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()

    def alive() -> set[int]:
        orphans = {p for p, t in probes.start_times(started).items() if t == started[p]}
        return orphans | set(probes.descendants(os.getpid()))

    deadline = time.monotonic() + 30
    while alive() and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive():
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"{PACKAGE}/ not found next to perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    import importlib

    import harness
    import metrics

    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    cwd = os.getcwd()
    run = None
    try:
        _prepare_env(work, nproc)
        run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), work, nproc)
        module, cls, setups, warmup, timed = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(module), cls)(run)
        values = run.execute(wl, setups, warmup, timed)
        record = run.record()
        print(json.dumps(record), file=sys.stderr)
        if args.trace:
            out_dir = os.path.join(ROOT, ".perfbench_traces")
            os.makedirs(out_dir, exist_ok=True)
            run.tracer.write(
                os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"),
                [{"run": record}] + run.counters,
            )
        units = metrics.END_TO_END if not args.trace else metrics.PER_LAYER
        result = {
            "correct": True,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": float(values[k]), "unit": units[k][0]} for k in units},
        }
        rc = 0
    except harness.CheckFailed as e:
        print(f"correctness check failed: {e}", file=sys.stderr)
        result = {"correct": False, "attempted": run.attempted, "failed": run.failed, "metrics": {}}
        rc = 1
    finally:
        if run is not None and run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    print(json.dumps(result), flush=True)
    return rc


if __name__ == "__main__":
    sys.exit(main())
