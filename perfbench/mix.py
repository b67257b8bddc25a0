"""query_mix: registered query operators over seeded catalog tables.

Each cycle is one sequential pass over ``QUERIES``: each query is built
through the registry, executed and fetched as Arrow. After the timed
cycles the same set also runs once from ``nproc`` closed-loop client
threads (the concurrent pass). It reads only: its time is Catalyst, shuffle, Python workers
and the Arrow fetch. Every result is hashed with the oracle sweep's
order-insensitive value hash and compared with DuckDB's answer to the
query's oracle SQL, computed once before any timing.
"""

from __future__ import annotations

import os
import sys
import threading
import time

import gen
import probes
from harness import require
from metrics import MIX_QUERIES

QUERIES = MIX_QUERIES
LINEITEM_ROWS = 6000
EVENTS_ROWS = 2000
DOCUMENTS = 500
VECTORS = 500


def _digest(table) -> str:
    from verify_oracle import table_digest

    cols = table.column_names
    rows = list(zip(*(c.to_pylist() for c in table.columns))) if cols else []
    return table_digest(cols, rows)


class QueryMix:
    def __init__(self, run):
        self.run = run
        self.sf_dir = os.path.join(run.work, "catalog")
        self.sizes = gen.make_catalog(self.sf_dir, run.seed, LINEITEM_ROWS, EVENTS_ROWS, DOCUMENTS, VECTORS)
        self.expected: dict[str, str] = {}

    # -- set-up -----------------------------------------------------------
    def setup(self, k: int) -> None:
        import us_stock_data_pipeline_spark  # noqa: F401  (import registers every query)
        from us_stock_data_pipeline_spark.catalog import register_views

        spark = self.run.start_session()
        # the program's per-session table catalog: footer and schema reads
        register_views(spark, self.sf_dir, tuple(self.sizes))

    def after_setup(self) -> None:
        """DuckDB's answers, before any timing and outside ``setup_s``."""
        import duckdb
        import pyarrow.parquet as pq

        root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        sys.path.insert(0, os.path.join(root, "tools"))
        from verify_oracle import table_digest

        from us_stock_data_pipeline_spark import registry

        self.registry = registry.all_queries()
        con = duckdb.connect()
        try:
            for name in self.sizes:
                # registered from Arrow, so no path is spliced into SQL
                con.register(name, pq.read_table(os.path.join(self.sf_dir, f"{name}.parquet")))
            for q in QUERIES:
                cur = con.execute(self.registry[q].oracle)
                self.expected[q] = table_digest([d[0] for d in cur.description], cur.fetchall())
        finally:
            con.close()

    # -- cycles -----------------------------------------------------------
    def restore(self, i: int) -> None:
        pass

    def _one(self, name: str):
        """Build, execute and fetch one query: (DataFrame, Arrow table,
        build seconds, fetch seconds)."""
        tracer = self.run.tracer
        with tracer.span(f"queries.{name}"):
            t0 = time.perf_counter()
            with tracer.span("registry.build"):
                df = self.registry[name].fn(self.run.spark, self.sf_dir)
            t1 = time.perf_counter()
            with tracer.span("fetch.arrow"):
                table = df.toArrow()
            t2 = time.perf_counter()
        return df, table, t1 - t0, t2 - t1

    def cycle(self, i: int) -> dict:
        fig = dict.fromkeys(
            (
                "registry.build_s",
                "fetch.arrow_s",
                "fetch.result_bytes",
                "catalyst.analysis_ms",
                "catalyst.optimization_ms",
                "catalyst.planning_ms",
            ),
            0.0,
        )
        self.results = []
        t0 = time.perf_counter()
        for name in QUERIES:
            df, table, build_s, fetch_s = self._one(name)
            self.results.append((name, table))
            if self.run.traced:
                fig[f"queries.{name}_s"] = build_s + fetch_s
                fig["registry.build_s"] += build_s
                fig["fetch.arrow_s"] += fetch_s
                fig["fetch.result_bytes"] += float(table.nbytes)
                for k, v in probes.catalyst_ms(df).items():
                    fig[k] += v
        return {**fig, "ops": len(QUERIES), "cycle_s": time.perf_counter() - t0}

    def after_cycle(self, i: int) -> dict:
        """Every result of the pass against DuckDB's, outside the cycle's
        time and CPU."""
        self._verify(self.results)
        return {}

    def _verify(self, got: list) -> None:
        require(len(got) == len(QUERIES), f"{len(got)} results for {len(QUERIES)} queries")
        for name, table in got:
            require(_digest(table) == self.expected[name], f"{name}: result hash differs from DuckDB's oracle")

    def check(self, i: int) -> None:
        """The concurrent pass: the same set from ``nproc`` closed-loop
        clients (each takes the next query when its last one returns),
        run once after the timed cycles; its results are verified like
        the sequential ones."""
        results: list = []
        lock = threading.Lock()
        pending = list(QUERIES)
        errors: list[BaseException] = []

        def client():
            try:
                while True:
                    with lock:
                        if not pending:
                            return
                        name = pending.pop(0)
                    _df, table, _b, _f = self._one(name)
                    with lock:
                        results.append((name, table))
            except Exception as e:  # noqa: BLE001 — re-raised below, after join
                errors.append(e)

        t0 = time.perf_counter()
        with self.run.tracer.span("query_mix.concurrent"):
            threads = [threading.Thread(target=client) for _ in range(min(self.run.nproc, len(QUERIES)))]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        self.concurrent_qps = len(QUERIES) / (time.perf_counter() - t0)
        self.run.attempted += len(QUERIES)
        if errors:
            raise errors[0]
        self._verify(results)

    def run_layer(self, cycles: list[dict], cold: dict) -> dict:
        return {"mix_queries_per_s": self.concurrent_qps}
