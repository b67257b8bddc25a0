"""Round-7 streaming addition: windowed error-rate alerting."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from us_stock_data_pipeline_spark.queries.streaming_ops import (
    _events_stream,
    _run_to_table,
)
from us_stock_data_pipeline_spark.registry import register

_ALERT_THRESHOLD = 0.15  # error share that pages

_ALERT_ORACLE = f"""
WITH win AS (
  SELECT make_timestamp((epoch_us(ts) // 21600000000) * 21600000000) AS window_start,
         CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_errors
  FROM events GROUP BY 1
)
SELECT window_start, n_total, n_errors,
       floor(CAST(n_errors AS DOUBLE) / n_total * 10000 + 0.5) / 10000 AS error_rate
FROM win
WHERE n_errors * 10000 > CAST({int(_ALERT_THRESHOLD * 10000)} AS BIGINT) * n_total
ORDER BY window_start
"""


@register("stream_error_rate_alert", oracle=_ALERT_ORACLE, tags=("streaming", "alerting"))
def stream_error_rate_alert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming error-rate alerting: 6-hour tumbling windows count
    total vs error events and emit only the windows whose error share
    crosses the paging threshold — the canonical monitoring query
    every ingest pipeline runs beside its business windows
    (`stream_tumbling_window` aggregates; this DECIDES). The
    threshold test is exact integer cross-multiplication
    (n_errors * 10000 > threshold_bp * n_total), so a window can't
    flap across engines on a float boundary. State is one counter
    pair per window — bounded by the time range; with a watermark the
    same query runs unbounded. The filter applies AFTER the stateful
    agg, in the same micro-batch, so alerts flow without a second
    query."""
    ev = _events_stream(spark, sf_dir)
    agg = ev.groupBy(F.window("ts", "6 hours")).agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("long")
        .alias("n_errors"),
    )
    out = _run_to_table(agg, spark, "complete")
    return (
        out.filter(
            F.col("n_errors") * 10000
            > F.lit(int(_ALERT_THRESHOLD * 10000)) * F.col("n_total")
        )
        .select(
            F.col("window.start").alias("window_start"),
            "n_total",
            "n_errors",
            (
                F.floor(
                    F.col("n_errors").cast("double") / F.col("n_total") * 10000
                    + F.lit(0.5)
                )
                / 10000
            ).alias("error_rate"),
        )
        .orderBy("window_start")
    )


# --------------------------------------------------------------------------
# Stream-static enrichment join
# --------------------------------------------------------------------------

_WEIGHTS = [("click", 1), ("view", 1), ("signup", 5), ("purchase", 10), ("error", 0)]
_WEIGHTS_SQL = ", ".join(f"('{t}', {w})" for t, w in _WEIGHTS)

_ENRICH_ORACLE = f"""
WITH weights(event_type, weight) AS (VALUES {_WEIGHTS_SQL})
SELECT make_timestamp((epoch_us(e.ts) // 21600000000) * 21600000000)
         AS window_start,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(e.value * 100) AS BIGINT) * w.weight) AS BIGINT)
         AS weighted_cents
FROM events e JOIN weights w ON w.event_type = e.event_type
GROUP BY 1
ORDER BY window_start
"""


@register("stream_static_enrich_join", oracle=_ENRICH_ORACLE, tags=("streaming", "join"))
def stream_static_enrich_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the event
    stream joins a STATIC dimension (business-value weights per event
    type) before a 6-hour windowed weighted aggregate — the
    enrichment pattern behind every streaming scorecard, and the
    stateless complement to `stream_stream_join` (static side needs
    NO watermark and NO state: it broadcasts into every batch).
    Weighted sums are exact integers (cents x integer weight); the
    stream side keys state by window only. On a cluster the static
    table re-broadcasts per batch — the reason slowly-changing dims
    at scale move to `stream_versioned_upsert`-style refreshes."""
    ev = _events_stream(spark, sf_dir)
    weights = spark.createDataFrame(_WEIGHTS, "event_type string, weight long")
    enriched = ev.join(F.broadcast(weights), "event_type")
    agg = enriched.groupBy(F.window("ts", "6 hours")).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum(F.round(F.col("value") * 100).cast("long") * F.col("weight"))
        .cast("long")
        .alias("weighted_cents"),
    )
    out = _run_to_table(agg, spark, "complete")
    return out.select(
        F.col("window.start").alias("window_start"), "n_events", "weighted_cents"
    ).orderBy("window_start")
