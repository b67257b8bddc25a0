"""The ingest half of bars_pipeline: the reference's own job through
``etl.run.run``.

Each cycle runs a full load of the landed minute bars into an empty
silver table, lands the next day's fetch (which re-fetches the last
loaded day, as the reference's incremental window does) and runs the
incremental load over it. Its time sits in the JSON scan, curation,
session labelling, the per-symbol watermark and small-file partitioned
writes; none of it is in ``etl.versioned`` or ``queries.*``.
"""

from __future__ import annotations

import argparse
import os
import shutil
import statistics
import time

import gen
from harness import require

# A symbol-day is the reference's: about 960 extended-hours minutes
# (04:00-20:00) on one page. The reference's 1m batch has 194 symbols
# per run (BASELINE.md); 12 keep a run within the benchmark's time
# budget (README, "Seeds and input make-up").
N_SYMBOLS = 12
BARS_PER_DAY = 960
PARTITION_BY = "session,symbol"


class Ingest:
    def __init__(self, run):
        self.run = run
        self.inp = gen.make_ingest(os.path.join(run.work, "inputs"), run.seed, N_SYMBOLS, BARS_PER_DAY)
        self.tables = os.path.join(run.work, "tables")
        self.table = None

    # -- set-up -----------------------------------------------------------
    def setup(self, k: int) -> None:
        from us_stock_data_pipeline_spark.etl import run as etl_run  # noqa: F401

    def after_setup(self) -> None:
        if self.run.traced:
            self._wrap_layers()

    def _wrap_layers(self) -> None:
        from us_stock_data_pipeline_spark.etl import run as etl_run

        t = self.run.tracer
        etl_run.read_json_landing = t.wrap("etl.sources.read_json_landing", etl_run.read_json_landing)
        etl_run.parquet_exists = t.wrap("etl.sources.parquet_exists", etl_run.parquet_exists)
        for name in ("curate", "with_session", "incremental_per_symbol"):
            setattr(etl_run, name, t.wrap("etl.bars.plan", getattr(etl_run, name)))
        etl_run.write_partitioned = t.wrap("etl.sinks.write_partitioned", etl_run.write_partitioned)

    # -- cycles -----------------------------------------------------------
    def restore(self, i: int) -> None:
        """An empty table and an unlanded late slice."""
        if os.path.isdir(self.inp.late_landed):
            os.rename(self.inp.late_landed, self.inp.late_staged)
        if self.table:
            shutil.rmtree(self.table, ignore_errors=True)
        self.table = os.path.join(self.tables, f"silver-{i}")

    def _load(self, landing: str, load_type: str) -> tuple[dict, float]:
        from us_stock_data_pipeline_spark.etl import run as etl_run

        args = argparse.Namespace(
            landing=landing, out=self.table, load_type=load_type, partition_by=PARTITION_BY, mode="append"
        )
        t0 = time.perf_counter()
        with self.run.tracer.span(f"etl.run.{load_type}"):
            res = etl_run.run(self.run.spark, args)
        return res, time.perf_counter() - t0

    def _input_bytes(self) -> float:
        """Bytes the stages read so far, from the status store (traced runs)."""
        return self.run.status.read()["spark.input_bytes"] if self.run.status else 0.0

    def cycle(self, i: int) -> dict:
        read0 = self._input_bytes()
        full, full_s = self._load(self.inp.landing, "full")
        os.rename(self.inp.late_staged, self.inp.late_landed)  # the fetcher lands the next day
        inc, inc_s = self._load(self.inp.late_landed, "incremental")
        self.input_bytes = self._input_bytes() - read0
        self.inc_written = inc["rows_written"]
        require(full["rows_written"] == self.inp.full_bars, f"full load wrote {full['rows_written']} rows")
        require(inc["rows_written"] == self.inp.late_rows, f"incremental load wrote {inc['rows_written']} rows")
        return {"ops": 2, "ingest_s": full_s + inc_s, "full_s": full_s, "inc_s": inc_s}

    def after_cycle(self, i: int) -> dict:
        if not self.run.traced:
            return {}
        t = self.run.tracer
        files = gen.dir_files(self.table)
        return {
            "etl.sources.input_bytes": self.input_bytes,
            "etl.bars.plan_s": t.total("etl.bars.plan", t.cycle),
            "etl.bars.watermark_dropped_rows": float(self.inp.late_landed_rows - self.inc_written),
            "etl.sinks.files_written": float(len(files)),
            "etl.sinks.bytes_written": float(sum(os.path.getsize(f) for f in files)),
            "etl.sinks.partitions_written": float(len({os.path.dirname(f) for f in files})),
        }

    # -- checks -----------------------------------------------------------
    def check(self, i: int) -> None:
        """Rows and volume per (symbol, session) against the generator's
        figures; then the incremental load, repeated, must write nothing."""
        got, _bytes = gen.silver_counts(self.table)
        require(got == self.inp.expected, "silver rows/volume per (symbol, session) differ from the generator's")
        again, _s = self._load(self.inp.late_landed, "incremental")
        require(again["rows_written"] == 0, f"repeated incremental load wrote {again['rows_written']} rows")

    def run_layer(self, cycles: list[dict], cold: dict) -> dict:
        full_s = statistics.median(c["full_s"] for c in cycles)
        _counts, stored = gen.silver_counts(self.table)
        return {
            "cold_load_s": cold["full_s"],
            "ingest_bars_per_s": self.inp.full_bars / full_s,
            "incremental_load_s": statistics.median(c["inc_s"] for c in cycles),
            "stored_bytes_per_bar": stored / (self.inp.full_bars + self.inp.late_rows),
        }
