"""Streaming -> versioned-table upsert via foreachBatch: the
production write path the reference's blind Delta appends should have
been (`ingest_1m_session.py:273-293` duplicates rows on re-run).
Each micro-batch MERGEs on event_id as one atomic versioned commit, so
replayed input is idempotent."""

from __future__ import annotations

import os

from pyspark.sql import functions as F
from pyspark.sql import types as T

from us_stock_data_pipeline_spark.etl.versioned import (
    current_version,
    read_manifest,
    read_versioned,
    versioned_merge_upsert,
)

SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_batch(rows, path, name):
    import json

    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, name), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_foreach_batch_upsert_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")

    rows1 = [
        {"event_id": 1, "symbol": "A", "value": 1.0},
        {"event_id": 2, "symbol": "A", "value": 2.0},
        {"event_id": 3, "symbol": "B", "value": 3.0},
    ]
    _write_batch(rows1, src, "b1.json")

    def upsert(batch_df, batch_id):
        versioned_merge_upsert(
            spark, batch_df, out, key_cols=("event_id",), partition_cols=("symbol",)
        )

    def run_stream():
        q = (
            spark.readStream.schema(SCHEMA)
            .json(src)
            .writeStream.foreachBatch(upsert)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_stream()
    got = {(r.event_id, r.value) for r in read_versioned(spark, out).collect()}
    assert got == {(1, 1.0), (2, 2.0), (3, 3.0)}

    # batch 2: one replayed-but-updated key, one new key -> upsert, no dup
    rows2 = [
        {"event_id": 2, "symbol": "A", "value": 20.0},
        {"event_id": 4, "symbol": "B", "value": 4.0},
    ]
    _write_batch(rows2, src, "b2.json")
    run_stream()
    df = read_versioned(spark, out)
    assert df.count() == 4  # no duplicates despite key-2 arriving twice
    got = {(r.event_id, r.value) for r in df.collect()}
    assert got == {(1, 1.0), (2, 20.0), (3, 3.0), (4, 4.0)}
    # one atomic commit per run; partition layout survives the rewrites
    assert current_version(spark, out) == 2
    assert set(read_manifest(spark, out, 2)) == {"symbol=A", "symbol=B"}


def test_asof_join_matches_pandas_merge_asof(spark):
    """Property check: the window formulation of the as-of join equals
    pandas.merge_asof on randomized fixtures (seeded)."""
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    n_clicks, n_purch = 200, 120
    clicks = pd.DataFrame(
        {
            "user_id": rng.randint(0, 10, n_clicks),
            "ts": pd.to_datetime(rng.randint(0, 10**6, n_clicks), unit="s"),
        }
    ).sort_values("ts")
    purchases = pd.DataFrame(
        {
            "event_id": np.arange(n_purch),
            "user_id": rng.randint(0, 10, n_purch),
            "ts": pd.to_datetime(rng.randint(0, 10**6, n_purch), unit="s"),
        }
    ).sort_values("ts")

    expect = pd.merge_asof(
        purchases, clicks.rename(columns={"ts": "last_click_ts"}),
        left_on="ts", right_on="last_click_ts", by="user_id",
        direction="backward", allow_exact_matches=True,
    ).set_index("event_id")["last_click_ts"].to_dict()

    from pyspark.sql import Window as W

    c = spark.createDataFrame(clicks).select(
        "user_id", "ts", F.lit(0).alias("side"), F.lit(None).cast("long").alias("event_id")
    )
    p = spark.createDataFrame(purchases).select(
        "user_id", "ts", F.lit(1).alias("side"), "event_id"
    )
    w = W.partitionBy("user_id").orderBy("ts", "side").rowsBetween(W.unboundedPreceding, 0)
    merged = c.unionByName(p).withColumn(
        "last_click_ts", F.max(F.when(F.col("side") == 0, F.col("ts"))).over(w)
    )
    got = {
        r.event_id: r.last_click_ts
        for r in merged.filter("side = 1").select("event_id", "last_click_ts").collect()
    }
    assert len(got) == n_purch
    for eid, exp_ts in expect.items():
        g = got[eid]
        if pd.isna(exp_ts):
            assert g is None
        else:
            assert g == exp_ts.to_pydatetime()


def test_foreachbatch_upsert_across_two_batches(spark, tmp_path):
    """Drive foreachBatch MERGE across TWO micro-batches (one file per
    batch via maxFilesPerTrigger) and assert the later batch's rows
    overwrite the earlier batch's state for shared keys while unshared
    keys survive — the cross-batch upsert contract the single-batch
    oracle run can't exercise — and that each batch is exactly one
    atomic commit."""
    import pandas as pd

    src = tmp_path / "stream_src"
    src.mkdir()
    out = str(tmp_path / "state")
    # batch 1: keys 1, 2; batch 2: key 2 updated, key 3 new
    pd.DataFrame({"k": [1, 2], "v": ["a", "b"], "seq": [1, 1]}).to_parquet(src / "b1.parquet")
    pd.DataFrame({"k": [2, 3], "v": ["B", "c"], "seq": [2, 2]}).to_parquet(src / "b2.parquet")

    schema = spark.read.parquet(str(src)).schema
    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
        .withColumn("bucket", F.pmod("k", F.lit(2)).cast("int"))
    )
    batches = []

    def upsert(batch, batch_id):
        batches.append(batch_id)
        versioned_merge_upsert(
            batch.sparkSession, batch, out, key_cols=("k",), partition_cols=("bucket",)
        )

    q = sdf.writeStream.foreachBatch(upsert).trigger(availableNow=True).start()
    q.awaitTermination()

    assert len(batches) == 2  # really two micro-batches
    assert current_version(spark, out) == 2  # one atomic commit per batch
    state = {r.k: (r.v, r.seq) for r in read_versioned(spark, out).collect()}
    assert state == {1: ("a", 1), 2: ("B", 2), 3: ("c", 2)}
