"""Custom stateful streaming operator — gap-based sessionization via
``applyInPandasWithState`` (the build brief's escape hatch for stateful
semantics Spark's built-in windows can't express).

Per user: events sorted by time; a gap > ``SESSION_GAP_S`` (30
minutes) closes the current session. Closed sessions are EMITTED; the
trailing open session is CARRIED IN STATE across micro-batches, so a
later landing that continues the session extends it instead of
double-counting — exactly the semantics event-time windows can't give
you without a fixed window length.

State per user: (session_start_epoch, last_ts_epoch, n_events,
total_value). Arrow-batched both directions; no per-row Python.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..functions.pyworker import udf_body

EVENTS_SCHEMA = (
    "event_id bigint, ts timestamp_ntz, user_id bigint, "
    "event_type string, value double, props string"
)
SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, "
    "n_events int, total_value double"
)
# session_start/last_ts: epoch microseconds; total_value: integer
# micro-units of value — all stored as double (exact below 2^53)
STATE_SCHEMA = (
    "session_start double, last_ts double, n_events int, total_value double"
)
# a quiet gap longer than this (seconds) closes a session, in the
# stream and its batch twin alike
SESSION_GAP_S = 1800


@udf_body
def _sessionize(key, batches: Iterator[pd.DataFrame],
                state: GroupState) -> Iterator[pd.DataFrame]:
    # integer microseconds throughout: fits a double exactly (< 2^53)
    # for any realistic epoch, and converts to Arrow timestamp[us]
    # without unsafe-cast warnings. Values accumulate in integer
    # micro-units with HALF_UP quantization — bit-identical to the
    # batch twin's CAST(value AS DECIMAL(18,6)) sum (review finding:
    # raw float accumulation + Python banker's rounding could disagree
    # with the batch path on exact half-cent sums).
    import decimal

    def to_micro_units(v: float) -> int:
        return int(
            decimal.Decimal(v).quantize(decimal.Decimal("0.000001"),
                                        rounding=decimal.ROUND_HALF_UP)
            .scaleb(6)
        )

    def round2_from_micro(total_micro: int) -> float:
        q = (decimal.Decimal(total_micro).scaleb(-6)
             .quantize(decimal.Decimal("0.01"), rounding=decimal.ROUND_HALF_UP))
        return float(q)

    gap_us = SESSION_GAP_S * 1_000_000
    (user_id,) = key
    events = pd.concat(list(batches), ignore_index=True)
    events = events.sort_values("ts")
    ts_us = events["ts"].astype("int64") // 1000
    values = events["value"].fillna(0.0)

    if state.exists:
        s_start, s_last, s_n, s_val = state.get
        s_start, s_last, s_val = int(s_start), int(s_last), int(s_val)
    else:
        s_start = s_last = None
        s_n, s_val = 0, 0

    closed = []
    for t, v in zip(ts_us, values):
        t = int(t)
        if s_start is None:
            s_start, s_last, s_n, s_val = t, t, 1, to_micro_units(v)
        elif t - s_last > gap_us:
            closed.append((user_id, s_start, s_last, s_n,
                           round2_from_micro(s_val)))
            s_start, s_last, s_n, s_val = t, t, 1, to_micro_units(v)
        else:
            s_last, s_n, s_val = t, s_n + 1, s_val + to_micro_units(v)

    state.update((float(s_start), float(s_last), int(s_n), float(s_val)))
    if closed:
        yield pd.DataFrame(
            {
                "user_id": [c[0] for c in closed],
                "session_start": pd.to_datetime([c[1] for c in closed], unit="us"),
                "session_end": pd.to_datetime([c[2] for c in closed], unit="us"),
                "n_events": [c[3] for c in closed],
                "total_value": [c[4] for c in closed],
            }
        )


def sessionize_stream(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
) -> None:
    """Drain available events into closed-session rows (AvailableNow)."""
    events = spark.readStream.schema(EVENTS_SCHEMA).parquet(input_dir)
    sessions = (
        events.groupBy("user_id")
        .applyInPandasWithState(
            _sessionize,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )
    q = (
        sessions.writeStream.format("parquet")
        .outputMode("append")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def sessionize_batch(events: DataFrame) -> DataFrame:
    """Batch twin: lag-gap sessionization, ALL sessions (incl. trailing
    open ones) — the streaming version emits only closed sessions and
    keeps the last one per user in state."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    epoch = F.col("ts").cast("timestamp_ltz").cast("double")
    gap = epoch - F.lag(epoch).over(w)
    session_id = F.sum(
        F.when(gap.isNull() | (gap > SESSION_GAP_S), 1).otherwise(0)
    ).over(w)
    return (
        events.withColumn("session_id", session_id)
        .groupBy("user_id", "session_id")
        .agg(
            F.min(F.col("ts").cast("timestamp")).alias("session_start"),
            F.max(F.col("ts").cast("timestamp")).alias("session_end"),
            F.count("*").cast("int").alias("n_events"),
            # decimal-exact sum (repo determinism rule): float partial-agg
            # order must not jitter the oracle-checked value
            F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))
                          .cast("decimal(18,6)")).cast("double"), 2)
            .alias("total_value"),
        )
        .drop("session_id")
    )
