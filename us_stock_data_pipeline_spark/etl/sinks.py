"""Partitioned parquet appends.

Parity K1/K2 (`ingest_massive.py:155`, `ingest_1m_session.py:273-293`):
the reference appends bars blindly into Delta. Plain parquet here is for
appends only; every write that replaces rows (MERGE, DELETE,
compaction, restatement) commits through `etl/versioned.py`, whose
manifest commit is one atomic rename, so readers never see a torn table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _layout_for_write(
    df: DataFrame,
    partition_cols: tuple[str, ...],
    files_per_partition: int = 1,
) -> DataFrame:
    """Shuffle `df` so a hive-partitioned write emits exactly
    `files_per_partition` files per partition value, WITHOUT collapsing
    parallelism: hash-repartitioning on the partition columns alone (no
    explicit count — an explicit small count like repartition(1, col)
    funnels the whole table through one task) clusters each value into
    one task while distinct values spread across all
    spark.sql.shuffle.partitions tasks. For >1 file per value, a
    deterministic salt (xxhash64 of the row, mod N) widens each value
    across N tasks."""
    if not partition_cols:
        return df.repartition(max(1, files_per_partition))
    if files_per_partition <= 1:
        return df.repartition(*partition_cols)
    salt = F.pmod(F.xxhash64(*df.columns), F.lit(files_per_partition))
    return (
        df.withColumn("__salt", salt)
        .repartition(*partition_cols, "__salt")
        .drop("__salt")
    )


def write_partitioned(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("symbol",),
) -> None:
    """Hive-partitioned parquet append, one file per partition value.

    The reference writes with no repartition ("WRITE (NO coalesce)",
    `ingest_massive.py:153-155`) — at scale every task then emits a file
    per partition value (tasks x partitions small files). Clustering by
    the partition columns first (see _layout_for_write) bounds files per
    partition while keeping the write spread across the cluster."""
    _layout_for_write(df, partition_cols).write.mode("append").partitionBy(
        *partition_cols
    ).parquet(path)
