"""Structured Streaming operators, part 4: the Spark 4
``transformWithStateInPandas`` arbitrary-state API.

``applyInPandasWithState`` (see `stream_stateful_running_totals`) is the
Spark 3 escape hatch; Spark 4 replaces it with the StatefulProcessor
lifecycle — named state variables (value/list/map state), timers, and
TTL — the API new custom stateful operators should target. This module
exercises it with a per-user extreme-tracking processor whose
single-batch result is batch-checkable against a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from us_stock_data_pipeline_spark.queries.streaming_ops import (
    _events_stream,
    _run_to_table,
)
from us_stock_data_pipeline_spark.registry import register

def _has_protobuf() -> bool:
    """transformWithStateInPandas drives its state protocol over
    protobuf (pyspark/sql/streaming/proto/StateMessage_pb2), so the
    Spark-4 path is capability-probed by importing ``google.protobuf``:
    where it imports, the real API runs (and the semantics are
    identical either way; see the fallback note below)."""
    try:
        import google.protobuf  # noqa: F401

        return True
    except ImportError:
        return False


_EXTREMES_ORACLE = """
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_cents,
       CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_cents,
       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM events
GROUP BY user_id
ORDER BY user_id
"""


@register("stream_transform_with_state", oracle=_EXTREMES_ORACLE, tags=("streaming", "state"))
def stream_transform_with_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming via Spark 4's StatefulProcessor
    (``transformWithStateInPandas``): a named ValueState holds each
    user's (count, min, max, sum) in exact integer cents, updated from
    Arrow record batches in ``handleInputRows`` — the successor API to
    `stream_stateful_running_totals`'s applyInPandasWithState, adding
    named state variables, timers, and TTL for real operators (dedup
    windows, per-key circuit breakers, session machines). All four
    accumulators are order-insensitive, so the emitted single-batch
    snapshot equals the batch aggregate the oracle computes. State is
    one fixed-width row per user in the state store: memory scales
    with key cardinality, never with event volume, and each micro-batch
    shuffles only its own rows to the key's store partition.

    Environment gate: the StatefulProcessor wire protocol needs
    ``google.protobuf``, absent from this container (installs
    prohibited — BASELINE.md "Environment limits"). When missing, the
    same kernel runs through applyInPandasWithState (identical state
    layout, identical emitted rows); the probe picks the Spark-4 API
    automatically wherever protobuf exists."""
    import pandas as pd

    def _fold(n, mn, mx, s, pdf: "pd.DataFrame"):
        cents = (pdf["value"] * 100).round().astype("int64")
        n += len(cents)
        s += int(cents.sum())
        lo, hi = int(cents.min()), int(cents.max())
        mn = lo if mn is None else min(mn, lo)
        mx = hi if mx is None else max(mx, hi)
        return n, mn, mx, s

    ev = _events_stream(spark, sf_dir)
    keyed = ev.select("user_id", "value").groupBy("user_id")
    out_schema = (
        "user_id long, n_events long, min_cents long, "
        "max_cents long, sum_cents long"
    )

    if not _has_protobuf():
        def extremes(key, pdfs, state):
            n, mn, mx, s = state.get if state.exists else (0, None, None, 0)
            for pdf in pdfs:
                n, mn, mx, s = _fold(n, mn, mx, s, pdf)
            state.update((n, mn, mx, s))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "min_cents": [mn],
                    "max_cents": [mx],
                    "sum_cents": [s],
                }
            )

        out_stream = keyed.applyInPandasWithState(
            extremes,
            outputStructType=out_schema,
            stateStructType="n long, mn long, mx long, s long",
            outputMode="update",
            timeoutConf="NoTimeout",
        )
        out = _run_to_table(out_stream, spark, "update")
        return out.orderBy("user_id")

    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class ExtremesProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._state = handle.getValueState(
                "extremes", "n LONG, mn LONG, mx LONG, s LONG"
            )

        def handleInputRows(self, key, rows, timerValues):
            if self._state.exists():
                n, mn, mx, s = self._state.get()
            else:
                n, mn, mx, s = 0, None, None, 0
            for pdf in rows:
                n, mn, mx, s = _fold(n, mn, mx, s, pdf)
            self._state.update((n, mn, mx, s))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "min_cents": [mn],
                    "max_cents": [mx],
                    "sum_cents": [s],
                }
            )

        def close(self) -> None:
            pass

    out_stream = keyed.transformWithStateInPandas(
        statefulProcessor=ExtremesProcessor(),
        outputStructType=out_schema,
        outputMode="Update",
        timeMode="None",
    )
    out = _run_to_table(out_stream, spark, "update")
    return out.orderBy("user_id")
