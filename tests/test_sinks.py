"""Sink behavior: partitioned append layout + pruning, and the one
commit path — plain parquet only appends; every row-replacing write goes
through etl/versioned.py (tests/test_versioned.py)."""

from __future__ import annotations

import pathlib
from datetime import datetime

from pyspark.sql import functions as F

import us_stock_data_pipeline_spark
from us_stock_data_pipeline_spark.etl import sinks
from us_stock_data_pipeline_spark.etl.sinks import write_partitioned
from us_stock_data_pipeline_spark.etl.sources import parquet_exists


def _bars(spark, rows):
    return spark.createDataFrame(rows, "symbol string, ts timestamp, close double")


def test_partitioned_write_layout_and_pruning(spark, tmp_path):
    path = str(tmp_path / "bars")
    df = _bars(spark, [("AAA", datetime(2024, 1, 5, 14, 30), 1.0),
                       ("BBB", datetime(2024, 1, 5, 14, 30), 2.0)])
    write_partitioned(df, path)
    back = spark.read.parquet(path)
    assert back.count() == 2
    # Partition pruning: the symbol predicate must become a PartitionFilter
    # on the scan (not a post-scan data filter).
    pruned = back.filter(F.col("symbol") == "AAA")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "symbol" in plan.split("PartitionFilters")[1][:80]


def test_parquet_exists_probe(spark, tmp_path):
    assert not parquet_exists(spark, str(tmp_path / "nope"))
    path = str(tmp_path / "yes")
    _bars(spark, [("AAA", datetime(2024, 1, 5), 1.0)]).write.parquet(path)
    assert parquet_exists(spark, path)


def test_one_commit_path():
    """No module of the engine dynamic-overwrites partitions or writes
    Delta, and the plain sink exposes only the append: a write that
    replaces rows has nowhere to go but etl/versioned.py's atomic
    manifest commit."""
    pkg = pathlib.Path(us_stock_data_pipeline_spark.__file__).parent
    offenders = [
        f"{py.relative_to(pkg)}: {needle}"
        for py in sorted(pkg.rglob("*.py"))
        for needle in ("partitionOverwriteMode", 'format("delta")', "format('delta')")
        if needle in py.read_text(encoding="utf-8")
    ]
    assert offenders == []

    public = {
        name
        for name, obj in vars(sinks).items()
        if not name.startswith("_") and getattr(obj, "__module__", None) == sinks.__name__
    }
    assert public == {"write_partitioned"}
