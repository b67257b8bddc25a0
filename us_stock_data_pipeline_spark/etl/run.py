"""CLI ingest driver — the engine-native replacement for the reference's
two entry points (`symbols(historical)/ingest_massive.py:167-174`,
`1m-seesion-pipeline/ingest_1m_session.py:261-296`).

Where the reference pages a REST API per symbol on the driver and appends
blindly, this driver reads an already-landed newline-JSON directory (see
sources.RestLanding for the fetcher contract), curates it in one
distributed pass, labels sessions as a column (not three tables), applies
per-symbol incremental watermarks, and appends partitioned parquet
(an incremental load's watermark drops re-landed rows instead of
duplicating them).

    python -m us_stock_data_pipeline_spark.etl.run \
        --landing /data/landing/source=massive --out /data/silver/bars \
        --load-type incremental --partition-by session,symbol

Full/incremental semantics mirror `determine_window`
(`symbols(historical)/utils.py:25-58`) with the per-symbol fix for its
global-max bug (SURVEY §3 EP3).
"""

from __future__ import annotations

import argparse
import datetime as _dt
import json
import sys

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from us_stock_data_pipeline_spark.etl.bars import (
    curate,
    incremental_per_symbol,
    with_session,
)
from us_stock_data_pipeline_spark.etl.schemas import RAW_SCHEMA
from us_stock_data_pipeline_spark.etl.sinks import write_partitioned
from us_stock_data_pipeline_spark.etl.sources import parquet_exists, read_json_landing

# Landed pages carry the wire fields plus the symbol the fetcher tagged
# (the reference tags it driver-side per loop iteration instead:
# `ingest_massive.py:126`).
LANDED_SCHEMA = T.StructType(
    list(RAW_SCHEMA.fields) + [T.StructField("symbol", T.StringType(), True)]
)


# Default historical backfill starts per timeframe (parity C1,
# `symbols(historical)/utils.py:40-45`): minute bars only exist from
# 2015 at the source; daily bars go back to 2000.
_DEFAULT_BACKFILL_START = {"1m": "2015-01-01", "1d": "2000-01-01"}


def determine_window(
    load_type: str,
    timeframe: str = "1d",
    start_ts: str | None = None,
    end_ts: str | None = None,
    existing_max_ts: _dt.datetime | None = None,
    today: _dt.date | None = None,
) -> tuple[str, str]:
    """Plan the [start, end] date window a fetch run should cover
    (parity C1, `symbols(historical)/utils.py:25-58`).

    full: the explicit window when both bounds are given, else the
    timeframe-dependent default backfill to today. incremental: from one
    day before the stored max timestamp (overlap on purpose — the
    per-symbol watermark filter dedups it downstream, fixing the
    reference's assumption that re-fetched rows are harmless to append)
    to today; raises when no existing data exists, same as the
    reference. Invalid load_type raises ValueError."""
    today = today or _dt.datetime.now(tz=_dt.timezone.utc).date()
    if load_type == "full":
        if start_ts and end_ts:
            return start_ts, end_ts
        try:
            start = _DEFAULT_BACKFILL_START[timeframe]
        except KeyError:
            raise ValueError(f"Unsupported timeframe: {timeframe}") from None
        return start, today.isoformat()
    if load_type == "incremental":
        if existing_max_ts is None:
            raise ValueError("No existing data found for incremental load")
        start = (existing_max_ts.date() - _dt.timedelta(days=1)).isoformat()
        return start, today.isoformat()
    raise ValueError(f"Invalid load_type: {load_type!r}")


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(prog="us-sdps-ingest", description=__doc__)
    p.add_argument("--landing", required=True, help="newline-JSON landing directory")
    p.add_argument("--out", required=True, help="silver table path (parquet)")
    p.add_argument(
        "--load-type",
        choices=["full", "incremental"],
        default="full",
        help="full: write everything; incremental: keep rows strictly newer "
        "than each symbol's stored max ts (per-symbol watermark)",
    )
    p.add_argument(
        "--partition-by",
        default="session,symbol",
        help="comma-separated partition columns (default session,symbol)",
    )
    return p


def run(spark: SparkSession, args: argparse.Namespace) -> dict:
    raw = read_json_landing(spark, args.landing, LANDED_SCHEMA)
    silver = with_session(curate(raw)).drop("ts_et", "hhmm")

    if args.load_type == "incremental" and parquet_exists(spark, args.out):
        existing = spark.read.parquet(args.out)
        silver = incremental_per_symbol(silver, existing)

    partition_cols = tuple(c for c in args.partition_by.split(",") if c)
    # Empty-input guard (parity F3/F4, the reference's emptiness checks,
    # without its `.rdd.isEmpty()` de-optimization): isEmpty stops at the
    # first row, so it is NOT a full scan. It is also load-bearing for the
    # observed write below: after a write of an empty frame,
    # `Observation.get` raises `java.lang.AssertionError` instead of
    # returning a zero count.
    if silver.isEmpty():
        n = 0
    else:
        # Single-pass metrics: the row count is observed ON the write
        # job itself (Observation aggregates per-task and merges on the
        # driver), replacing the count()-then-write double scan — at
        # 100 TB the difference is a full extra pass over the input.
        obs = Observation("ingest_metrics")
        observed = silver.observe(obs, F.count(F.lit(1)).alias("rows"))
        write_partitioned(observed, args.out, partition_cols)
        n = obs.get["rows"]
    return {
        "rows_written": n,
        "out": args.out,
        "load_type": args.load_type,
        "partition_by": list(partition_cols),
    }


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from us_stock_data_pipeline_spark.session import get_spark

    spark = get_spark("us-sdps-ingest")
    print(json.dumps(run(spark, args)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
