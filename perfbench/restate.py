"""The restatement half of bars_pipeline: corrections to a versioned bars
table and the mart that follows it through the change data feed.

Set-up seeds a versioned table partitioned by symbol and a mart copied
from its first snapshot. Each cycle, on a fresh copy of that state:

1. ``versioned_merge_upsert`` of corrections touching some symbol partitions;
2. ``versioned_delete`` of a few bars;
3. a ``versioned_cdf`` stream into the mart through ``foreachBatch``,
   applying each microbatch's net change (per key the change of the
   highest commit version wins: upserts by MERGE, deletes by a deletion
   vector), the rule of the ``stream_versioned_cdf_to_mart`` query;
4. ``read_versioned`` of the head for a few symbols, fetched as Arrow.

Its time sits in commit-protocol and stream fixed costs.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import gen
from harness import require

N_SYMBOLS = 8
BARS_PER_DAY = 300
TOUCHED = 3
UPDATES_PER_SYMBOL = 30
INSERTS_PER_SYMBOL = 10
DELETES = 12
KEYS = ("symbol", "ts")
PARTS = ("symbol",)


def _rows(table) -> set[tuple]:
    cols = [table.column(c).to_pylist() for c in gen.BAR_COLUMNS]
    return set(zip(*cols))


class Restate:
    def __init__(self, run):
        self.run = run
        self.inp = gen.make_restate(
            os.path.join(run.work, "inputs"),
            run.seed,
            N_SYMBOLS,
            BARS_PER_DAY,
            TOUCHED,
            UPDATES_PER_SYMBOL,
            INSERTS_PER_SYMBOL,
            DELETES,
        )
        self.pristine = None
        self.src = self.mart = None
        self.seed_version = None
        self.cycle_dir = None

    # -- set-up -----------------------------------------------------------
    def setup(self, k: int) -> None:
        from us_stock_data_pipeline_spark.etl import versioned as V
        from us_stock_data_pipeline_spark.etl.cdf_stream import register_cdf_source

        spark = self.run.spark
        register_cdf_source(spark)
        base = os.path.join(self.run.work, f"seeded-{k}")
        src, mart = os.path.join(base, "src"), os.path.join(base, "mart")
        self.seed_version = V.versioned_merge_upsert(
            spark, spark.read.parquet(self.inp.seed_path), src, key_cols=KEYS, partition_cols=PARTS
        )
        V.versioned_merge_upsert(spark, V.read_versioned(spark, src), mart, key_cols=KEYS, partition_cols=PARTS)
        if self.pristine:
            shutil.rmtree(self.pristine, ignore_errors=True)
        self.pristine = base

    def after_setup(self) -> None:
        pass

    # -- cycles -----------------------------------------------------------
    def restore(self, i: int) -> None:
        """A fresh copy of the seeded table and mart, under a new path."""
        if self.cycle_dir:
            shutil.rmtree(self.cycle_dir, ignore_errors=True)
        self.cycle_dir = os.path.join(self.run.work, f"cycle-{i}")
        shutil.copytree(self.pristine, self.cycle_dir)
        self.src = os.path.join(self.cycle_dir, "src")
        self.mart = os.path.join(self.cycle_dir, "mart")
        self.src_bytes0 = gen.dir_bytes(self.src)

    def _apply_factory(self, stats: dict):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from us_stock_data_pipeline_spark.etl import versioned as V

        spark, mart, tracer = self.run.spark, self.mart, self.run.tracer

        def apply_changes(batch, _epoch):
            stats.setdefault("first_batch", time.perf_counter())
            with tracer.span("etl.cdf_stream.batch_apply"):
                batch = batch.persist()
                try:
                    if tracer.enabled:
                        stats["change_rows"] = stats.get("change_rows", 0) + batch.count()
                    w = Window.partitionBy(*KEYS).orderBy(F.col("_commit_version").desc())
                    last = (
                        batch.withColumn("_rn", F.row_number().over(w))
                        .filter(F.col("_rn") == 1)
                        .withColumn("_is_del", F.col("_change_type") == "delete")
                        .persist()
                    )
                    kinds = {r[0] for r in last.select("_is_del").distinct().collect()}
                    if False in kinds:
                        V.versioned_merge_upsert(
                            spark,
                            last.filter(~F.col("_is_del")).select(*gen.BAR_COLUMNS),
                            mart,
                            key_cols=KEYS,
                            partition_cols=PARTS,
                        )
                    if True in kinds:
                        V.versioned_delete(spark, last.filter(F.col("_is_del")).select(*KEYS), mart, key_cols=KEYS)
                    last.unpersist()
                finally:
                    batch.unpersist()

        return apply_changes

    def _jobs(self) -> int:
        return self.run.status.jobs_started() if self.run.status else 0

    def cycle(self, i: int) -> dict:
        from us_stock_data_pipeline_spark.etl import versioned as V

        spark, tracer, inp = self.run.spark, self.run.tracer, self.inp
        jobs0 = self._jobs()
        t0 = time.perf_counter()
        with tracer.span("etl.versioned.merge_upsert"):
            self.v_merge = V.versioned_merge_upsert(
                spark, spark.read.parquet(inp.corrections_path), self.src, key_cols=KEYS, partition_cols=PARTS
            )
        t1 = time.perf_counter()
        with tracer.span("etl.versioned.delete"):
            self.v_delete = V.versioned_delete(spark, spark.read.parquet(inp.deletes_path), self.src, key_cols=KEYS)
        t2 = time.perf_counter()
        self.commit_jobs = self._jobs() - jobs0
        stats: dict = {}
        with tracer.span("etl.cdf_stream.refresh"):
            feed = (
                spark.readStream.format("versioned_cdf")
                .option("path", self.src)
                .option("keycols", ",".join(KEYS))
                .option("tableschema", gen.BAR_DDL)
                .option("partitioncols", ",".join(PARTS))
                .option("startingversion", str(self.seed_version))
                .load()
            )
            q = (
                feed.writeStream.foreachBatch(self._apply_factory(stats))
                .option("checkpointLocation", os.path.join(self.cycle_dir, "checkpoint"))
                .trigger(availableNow=True)
                .start()
            )
            try:
                q.awaitTermination(120)
            except Exception as e:  # noqa: BLE001 — counted below; the cycle goes on
                stream_error = e
            else:
                stream_error = q.exception()
        t3 = time.perf_counter()
        self.stream_failed = stream_error is not None
        if self.stream_failed:
            self.run.failed += 1
            self.run.note_failure("etl.cdf_stream", stream_error)
        few = set(inp.read_symbols)
        with tracer.span("etl.versioned.read_versioned"):
            head = V.read_versioned(spark, self.src, partition_filter=lambda pv: pv["symbol"] in few).toArrow()
        t4 = time.perf_counter()
        want = sum(1 for k in inp.head if k[0] in few)
        require(head.num_rows == want, f"head read returned {head.num_rows} rows, expected {want}")
        self.last_head = head
        return {
            "ops": 4,
            "restate_s": t4 - t0,
            "merge_s": t1 - t0,
            "delete_s": t2 - t1,
            "mart_refresh_s": t3 - t2,
            "snapshot_read_s": t4 - t3,
            "source_start_s": stats.get("first_batch", t3) - t2,
            "change_rows": float(stats.get("change_rows", 0)),
        }

    def after_cycle(self, i: int) -> dict:
        written = gen.dir_bytes(self.src) - self.src_bytes0
        out = {"written_bytes_per_changed_row": written / self.inp.changed_rows}
        if not self.run.traced:
            return out
        from us_stock_data_pipeline_spark.etl import versioned as V

        t, spark = self.run.tracer, self.run.spark
        parts = 0
        for v in (self.v_merge, self.v_delete):
            before, after = V.read_manifest(spark, self.src, v - 1), V.read_manifest(spark, self.src, v)
            parts += sum(1 for d in set(before) | set(after) if before.get(d) != after.get(d))
        files = len(gen.dir_files(self.src)) - len(gen.dir_files(os.path.join(self.pristine, "src")))
        out.update(
            {
                "etl.versioned.merge_upsert_s": t.total("etl.versioned.merge_upsert", t.cycle),
                "etl.versioned.delete_s": t.total("etl.versioned.delete", t.cycle),
                "etl.versioned.read_versioned_s": t.total("etl.versioned.read_versioned", t.cycle),
                "etl.versioned.jobs_per_commit": self.commit_jobs / 2,
                "etl.versioned.files_written_per_commit": files / 2,
                "etl.versioned.partitions_rewritten_per_commit": parts / 2,
                "etl.cdf_stream.batch_apply_s": t.total("etl.cdf_stream.batch_apply", t.cycle),
            }
        )
        return out

    # -- checks -----------------------------------------------------------
    def check(self, i: int) -> None:
        """The head equals the generator's model of the restatements; the
        mart equals a batch recompute (a snapshot read) of the head."""
        from us_stock_data_pipeline_spark.etl import versioned as V

        spark = self.run.spark
        head = _rows(V.read_versioned(spark, self.src).toArrow())
        want = {tuple(r) for r in self.inp.head.values()}
        require(head == want, f"head differs from the model: {len(head - want)} extra, {len(want - head)} missing")
        if not self.stream_failed:  # the check speaks of the refresh only when it ran
            mart = _rows(V.read_versioned(spark, self.mart).toArrow())
            require(mart == head, f"mart differs from the head: {len(mart - head)} extra, {len(head - mart)} missing")
        few = set(self.inp.read_symbols)
        require(_rows(self.last_head) == {r for r in want if r[0] in few}, "head read of a few symbols differs")

    def run_layer(self, cycles: list[dict], cold: dict) -> dict:
        def med(k):
            return statistics.median(c[k] for c in cycles)

        return {
            "restate_cycle_s": med("restate_s"),
            "mart_refresh_s": med("mart_refresh_s"),
            "snapshot_read_s": med("snapshot_read_s"),
            "written_bytes_per_changed_row": med("written_bytes_per_changed_row"),
            "etl.cdf_stream.source_start_s": med("source_start_s"),
            "etl.cdf_stream.change_rows": med("change_rows"),
        }
