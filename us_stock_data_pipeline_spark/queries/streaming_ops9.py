"""Streaming part 9: Structured Streaming committing into the
round-7 VERSIONED table — every micro-batch becomes one atomic,
snapshot-isolated version (the foreachBatch + Delta-MERGE production
pattern, on the pure-parquet commit protocol of etl/versioned.py).
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_stock_data_pipeline_spark.etl.versioned import (
    current_version,
    read_versioned,
    versioned_merge_upsert,
)
from us_stock_data_pipeline_spark.queries.streaming_ops import (
    _events_stream_multibatch,
)
from us_stock_data_pipeline_spark.registry import register

_VUP_ORACLE = """
SELECT user_id, event_id AS last_event_id, event_type AS last_type,
       round(value, 4) AS last_value
FROM (
  SELECT *, row_number() OVER (PARTITION BY user_id
                               ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
WHERE rn = 1
ORDER BY user_id
"""


@register(
    "stream_versioned_upsert",
    oracle=_VUP_ORACLE,
    tags=("streaming", "sink", "merge", "versioned"),
)
@register(
    "stream_foreachbatch_upsert",
    oracle=_VUP_ORACLE,
    tags=("streaming", "sink", "merge"),
)
def stream_versioned_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE into the ATOMIC versioned table: foreachBatch
    compacts each micro-batch to its latest row per user, gates it
    against the stored snapshot (a later-arriving older row can never
    overwrite — order-independent final state), and commits it as one
    new table version; a reader resolving the table BETWEEN batches
    sees a complete committed snapshot, never a half-written
    micro-batch. This is the Delta `foreachBatch + MERGE` production
    pattern re-expressed on etl/versioned.py's rename-atomic manifests,
    and the engine's only streaming upsert sink: it is registered as
    both `stream_versioned_upsert` and `stream_foreachbatch_upsert`. The
    version count after the run equals the number of non-empty
    micro-batches — each one audit-visible and time-travelable, so a
    bad batch rolls back by repointing, not reprocessing. Final state
    = latest-row-per-key over everything streamed, recomputed by the
    oracle from the batch fixture for a full value-hash check."""
    root = tempfile.mkdtemp(prefix="us_sdps_vstream_")
    sdf = _events_stream_multibatch(spark, sf_dir, n_files=3).select(
        "user_id",
        "event_id",
        "event_type",
        "ts",
        "value",
        F.pmod("user_id", F.lit(8)).cast("int").alias("bucket"),
    )

    def upsert_batch(batch: DataFrame, batch_id: int) -> None:
        key = F.struct(F.col("ts"), F.col("event_id"))
        compact = batch.groupBy("user_id").agg(
            F.max(key).alias("last_key"),
            F.max_by("event_id", key).alias("last_event_id"),
            F.max_by("event_type", key).alias("last_type"),
            F.max_by("value", key).alias("last_value"),
            F.max_by("bucket", key).alias("bucket"),
        )
        sess = batch.sparkSession
        if current_version(sess, root) > 0:
            # conditional MERGE: only strictly-newer rows may replace the
            # stored version (semi-join the big stored side down to this
            # batch's keys first — never broadcast the serving table)
            stored = (
                read_versioned(sess, root)
                .join(F.broadcast(compact.select("user_id")), "user_id", "left_semi")
                .select("user_id", F.col("last_key").alias("stored_key"))
            )
            compact = (
                compact.join(F.broadcast(stored), "user_id", "left")
                .filter(
                    F.col("stored_key").isNull()
                    | (F.col("last_key") > F.col("stored_key"))
                )
                .drop("stored_key")
            )
        if not compact.isEmpty():
            versioned_merge_upsert(
                sess,
                compact,
                root,
                key_cols=("user_id",),
                partition_cols=("bucket",),
            )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            sdf.writeStream.foreachBatch(upsert_batch)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    return (
        read_versioned(spark, root)
        .select(
            "user_id",
            "last_event_id",
            "last_type",
            F.round("last_value", 4).alias("last_value"),
        )
        .orderBy("user_id")
    )
