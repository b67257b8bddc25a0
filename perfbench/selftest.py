"""Self-test of the benchmark at smoke size.

    python3 perfbench/selftest.py

Shrinks every workload's inputs (a few symbols, a catalog of a few
hundred rows) and then:

1. runs ``run.py``'s ``main`` for each workload, untraced and traced,
   and checks the printed result against BENCHMARK.json: exactly the
   keys ``correct``/``attempted``/``failed``/``metrics``, every listed
   metric with its unit, positive end-to-end values and a share of
   failed operations no larger than the known failure allows;
2. runs one cycle of each workload in one session and checks that every
   correctness check passes on the program's real output and raises
   ``CheckFailed`` once the independently computed answer it compares
   against is altered.

Exits 0 when everything holds; prints what failed otherwise.
"""

from __future__ import annotations

import contextlib
import io
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import harness  # noqa: E402
import ingest  # noqa: E402
import mix  # noqa: E402
import restate  # noqa: E402
import run as bench  # noqa: E402

# Largest share of failed operations per workload: the mart refresh,
# one of bars_pipeline's six operations a cycle, fails on the program's
# CDF source today (see README). A fix of that source brings it to 0.
MAX_FAILED_SHARE = {"bars_pipeline": 1 / 6, "query_mix": 0.0}


def smoke_sizes() -> None:
    ingest.N_SYMBOLS, ingest.BARS_PER_DAY = 2, 20
    restate.N_SYMBOLS, restate.BARS_PER_DAY = 4, 20
    restate.TOUCHED, restate.UPDATES_PER_SYMBOL, restate.INSERTS_PER_SYMBOL, restate.DELETES = 2, 3, 2, 4
    mix.LINEITEM_ROWS, mix.EVENTS_ROWS, mix.DOCUMENTS, mix.VECTORS = 600, 300, 60, 60
    for name, (module, cls, _setups, _warmup, _timed) in bench.WORKLOADS.items():
        bench.WORKLOADS[name] = (module, cls, 2, 1, 1)


def check_form(spec: dict, workload: str, trace: int) -> list[str]:
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        rc = bench.main(["--workload", workload, "--seed", "7", "--seconds", "0", "--trace", str(trace)])
    problems = []
    lines = out.getvalue().strip().splitlines()
    result = json.loads(lines[-1])
    if rc != 0:
        problems.append(f"exit code {rc}")
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"result keys {sorted(result)}")
    if result["correct"] is not True:
        problems.append("correct is not true")
    if not (isinstance(result["attempted"], int) and result["attempted"] >= 1 and isinstance(result["failed"], int)):
        problems.append("attempted/failed are not whole numbers with attempted >= 1")
    elif result["failed"] / result["attempted"] > MAX_FAILED_SHARE[workload]:
        problems.append(f"failed share {result['failed']}/{result['attempted']}")
    listed = spec["per_layer"] if trace else spec["end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"metrics differ from BENCHMARK.json: {sorted(set(got) ^ set(want))}")
    for k, v in result["metrics"].items():
        if not isinstance(v["value"], float) or (not trace and v["value"] <= 0):
            problems.append(f"{k} = {v['value']!r}")
    return [f"{workload} trace={trace}: {p}" for p in problems]


def expect_check_failure(what: str, fn) -> list[str]:
    try:
        fn()
    except harness.CheckFailed:
        return []
    return [f"check did not catch: {what}"]


def check_checks() -> list[str]:
    """One cycle of each workload, its checks on real output, and each
    check against an altered answer."""
    problems: list[str] = []
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"selftest-{os.getpid()}")
    cwd = os.getcwd()
    run = None
    try:
        bench._prepare_env(work, nproc)
        run = harness.Run("selftest", 7, 0, False, work, nproc)
        import pipeline

        pl = pipeline.BarsPipeline(run)
        pl.setup(0)
        pl.after_setup()
        run._one_cycle(pl, "cycle0", 0)
        pl.check(0)  # passes on real output
        ing, rs = pl.parts
        sym_session = next(iter(ing.inp.expected))
        ing.inp.expected[sym_session][1] += 1
        problems += expect_check_failure("silver volume per (symbol, session)", lambda: ing.check(0))
        ing.inp.expected[sym_session][1] -= 1
        key = next(iter(rs.inp.head))
        row = rs.inp.head.pop(key)
        problems += expect_check_failure("restated head", lambda: rs.check(0))
        rs.inp.head[key] = row
        if not rs.stream_failed:  # once the mart refresh runs, its check must hold and bite
            from us_stock_data_pipeline_spark.etl import versioned as V

            gone = run.spark.createDataFrame([key], "symbol string, ts timestamp")
            V.versioned_delete(run.spark, gone, rs.mart, key_cols=restate.KEYS)
            problems += expect_check_failure("mart against the head", lambda: rs.check(0))
        ing.inp.late_rows += 1  # last: a new cycle replaces the tables checked above
        problems += expect_check_failure("incremental rows written", lambda: run._one_cycle(pl, "cycle1", 1))
        ing.inp.late_rows -= 1

        qm = mix.QueryMix(run)
        qm.setup(0)
        qm.after_setup()
        run._one_cycle(qm, "cycle0", 0)  # every result hash-matches DuckDB's
        qm.check(0)  # and so does every result of the concurrent pass
        name = mix.QUERIES[0]
        qm.expected[name] = "0" * 16
        problems += expect_check_failure(f"{name} result hash", lambda: qm.after_cycle(0))
    finally:
        if run is not None and run.spark is not None:
            run.spark.stop()
        bench._stop_jvm()
        os.chdir(cwd)
        import shutil

        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    return problems


def main() -> int:
    smoke_sizes()
    with open(os.path.join(ROOT, "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    problems = []
    import metrics

    if [m["name"] for m in spec["per_layer"]] != list(metrics.PER_LAYER):
        problems.append("BENCHMARK.json per_layer differs from metrics.PER_LAYER")
    if [m["name"] for m in spec["end_to_end"]] != list(metrics.END_TO_END):
        problems.append("BENCHMARK.json end_to_end differs from metrics.END_TO_END")
    for w in spec["workloads"]:
        for trace in (0, 1):
            problems += check_form(spec, w["name"], trace)
    problems += check_checks()
    for p in problems:
        print("FAIL", p)
    print("selftest:", "ok" if not problems else f"{len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
