"""Every metric the benchmark reports: name -> (unit, better).

BENCHMARK.json lists the same names; ``selftest.py`` checks that the two
agree. Each workload reports every metric: a per-layer metric of a
layer the workload does not call reads 0.
"""

from __future__ import annotations

# The query_mix set. q1 is the plain-Catalyst control; the
# pair-expansion and n-gram queries are what the pair-kernel work
# targets; the turtle backtest is the applyInPandas (Python worker) path.
MIX_QUERIES = (
    "q1_pricing_summary",
    "bars_turtle_backtest",
    "dedup_ngram_jaccard",
    "graph_adamic_adar",
    "knn_bruteforce_cosine",
    "join_asof",
)

END_TO_END = {
    "setup_s": ("s", "lower"),
    "cpu_s_per_cycle": ("s", "lower"),
}

PER_LAYER: dict[str, tuple[str, str]] = {}


def _add(*names: str, unit: str, better: str = "lower") -> None:
    for n in names:
        PER_LAYER[n] = (unit, better)


_add("session.start_s", "cycle_s", "cold_cycle_s", "jvm.jit_compile_s", "jvm.jit_cpu_s", "jvm.gc_s", unit="s")
_add("codegen.classes_compiled", "spark.jobs", "spark.stages", "spark.tasks", unit="count")
_add("spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes", unit="B")
_add("spark.executor_run_s", "spark.executor_cpu_s", unit="s")
_add("python_worker.rows", unit="rows")
_add("python_worker.bytes", unit="B")
_add("host.steal_s", unit="s")
# bars_pipeline, ingest half
_add("etl.sources.input_bytes", "etl.sinks.bytes_written", unit="B")
_add("etl.bars.plan_s", unit="s")
_add("etl.bars.watermark_dropped_rows", unit="rows")
_add("etl.sinks.files_written", "etl.sinks.partitions_written", unit="count")
_add("cold_load_s", "incremental_load_s", unit="s")
_add("ingest_bars_per_s", unit="bars/s", better="higher")
_add("stored_bytes_per_bar", unit="B/bar")
# bars_pipeline, restatement half
_add("etl.versioned.merge_upsert_s", "etl.versioned.delete_s", "etl.versioned.read_versioned_s", unit="s")
_add(
    "etl.versioned.jobs_per_commit",
    "etl.versioned.files_written_per_commit",
    "etl.versioned.partitions_rewritten_per_commit",
    unit="count",
)
_add("etl.cdf_stream.source_start_s", "etl.cdf_stream.batch_apply_s", unit="s")
_add("etl.cdf_stream.change_rows", unit="rows")
_add("restate_cycle_s", "mart_refresh_s", "snapshot_read_s", unit="s")
_add("written_bytes_per_changed_row", unit="B/row")
# query_mix
_add(*(f"queries.{q}_s" for q in MIX_QUERIES), "registry.build_s", "fetch.arrow_s", unit="s")
_add("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms", unit="ms")
_add("fetch.result_bytes", unit="B")
_add("mix_queries_per_s", unit="1/s", better="higher")
