"""Gap-based sessionization — batch and stateful-streaming twins.

The reference has no sessionization, but its session-table domain
(user_sessions with start/end times, final-module-3/airflow/dags/
seed_mongo.py:113-133) makes it the natural custom STATEFUL operator
for the Spark-native streaming extension (SURVEY §2.9): group events
by user, close a session when the gap to the next event exceeds
``gap_seconds``.

- ``sessionize_batch``: lag-gap flag + running sum over a per-user
  window -> session ids -> per-session aggregate. Pure DataFrame ops,
  two shuffles on user_id (window + groupBy share the same hash
  partitioning, so Catalyst reuses the exchange). SQL-expressible,
  oracle-checked.
- ``sessionize_stream``: the same semantics as an
  ``applyInPandasWithState`` operator — per-user state carries the
  open session across micro-batches; closed sessions are emitted in
  append mode. This is the piece plain watermarked windows cannot
  express (session windows have data-driven, unaligned boundaries).

Scale notes: state per user is one fixed-size tuple — memory is
O(active users), not O(events). At 100 TB the batch variant's window
is per-user (parallel, no global sort); the stream variant shuffles
each micro-batch once on user_id. Production hardening would add an
event-time timeout (GroupStateTimeout.EventTimeTimeout) to evict
users idle past the watermark; the availableNow replay used in tests
processes time-ordered files, which the in-batch sort covers.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import as_value, units_sum

# What the pandas state function emits: epoch MICROSECOND LONGS, never
# timestamps. Arrow hands TimestampType to pandas as session-timezone
# wall-clock (naive), so gap math on pandas .value would shift across
# DST transitions and diverge from the batch twin's unix_micros gaps;
# keeping the Python side in true epoch integers (computed JVM-side by
# _epoch_micros, converted back by timestamp_micros above the
# operator) removes wall-clock from the state path entirely.
_SESSION_US_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("start_us", T.LongType()),
        T.StructField("end_us", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        # exact integer cent units, NOT a float accumulator — matches the
        # units_sum contract of the batch twins (functions/exact.py) so a
        # long session cannot drift a cent via float error or banker's
        # rounding at emit
        T.StructField("total_cents", T.LongType()),
    ]
)


def _epoch_micros(df: DataFrame, ts_col: str) -> F.Column:
    """Epoch microseconds for TIMESTAMP or TIMESTAMP_NTZ inputs.

    Parquet written without the UTC-adjusted flag reads as
    TIMESTAMP_NTZ under Spark's NTZ inference, and ``unix_micros``
    accepts only TIMESTAMP. For NTZ, measure from an NTZ epoch literal
    with ``timestamp_diff`` — deterministic and independent of
    ``spark.sql.session.timeZone`` (casting NTZ to TIMESTAMP would
    re-interpret the wall time in the session zone, shifting gaps
    across DST transitions).
    """
    if isinstance(df.schema[ts_col].dataType, T.TimestampNTZType):
        epoch = F.lit("1970-01-01 00:00:00").cast("timestamp_ntz")
        return F.timestamp_diff("MICROSECOND", epoch, F.col(ts_col))
    return F.unix_micros(F.col(ts_col))


def sessionize_batch(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Per-user gap sessions: (user_id, session_start, session_end,
    n_events, total_value), one row per session. ``total_value`` sums
    in exact cent units to stay engine-independent."""
    w = Window.partitionBy(user_col).orderBy(ts_col)
    us = _epoch_micros(events, ts_col)
    new_session = (
        F.when(
            us - F.lag(us).over(w) > gap_seconds * 1_000_000, F.lit(1)
        )
        .otherwise(F.lit(0))
    )
    with_sid = events.select(
        F.col(user_col).alias("user_id"),
        F.col(ts_col).alias("ts"),
        F.col(value_col).alias("value"),
    ).withColumn(
        "session_id",
        F.sum(new_session).over(
            Window.partitionBy(user_col).orderBy(ts_col).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    return (
        with_sid.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            as_value(units_sum(F.coalesce(F.col("value"), F.lit(0.0)))).alias(
                "total_value"
            ),
        )
        .drop("session_id")
    )


def _make_sessionizer(gap_seconds: int):
    gap_us = gap_seconds * 1_000_000

    def sessionize(key: tuple, pdfs: Iterator[Any], state: Any) -> Iterator[Any]:
        import pandas as pd

        rows = pd.concat(list(pdfs)).sort_values("ts_us")
        if state.exists:
            start_us, last_us, n, cents = state.get
        else:
            start_us, last_us, n, cents = None, None, 0, 0
        closed: list[tuple] = []
        for us, val in zip(rows["ts_us"], rows["value"]):
            us = int(us)  # true epoch micros, computed JVM-side
            if last_us is not None and us - last_us > gap_us:
                closed.append((key[0], start_us, last_us, n, cents / 100.0))
                start_us, n, cents = None, 0, 0
            if start_us is None:
                start_us = us
            last_us = us
            n += 1
            if val == val and val is not None:  # NaN/None guard
                # half-up to cents on ingest (values are non-negative),
                # mirroring units() = round(x * 100) in the batch twins
                cents += int(float(val) * 100.0 + 0.5)
        state.update((start_us, last_us, n, cents))
        if closed:
            yield pd.DataFrame(
                closed,
                columns=["user_id", "start_us", "end_us", "n_events", "total_value"],
            )

    return sessionize


def sessionize_stream(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """Stateful-streaming sessionization over a (user_id, ts, value)
    stream. Emits a session's row once a later event closes it; the
    open tail session stays in state (see module docstring for the
    production timeout story).

    Timestamps cross the Arrow boundary as epoch-microsecond LONGS in
    both directions (_epoch_micros below, timestamp_micros above) so
    the gap math matches the batch twin exactly — pandas-side
    TimestampType arrives as session-timezone wall-clock, whose gaps
    shift by the offset change across a DST transition."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    prepared = events_stream.select(
        "user_id",
        _epoch_micros(events_stream, "ts").alias("ts_us"),
        "value",
    )
    sessions = prepared.groupBy("user_id").applyInPandasWithState(
        _make_sessionizer(gap_seconds),
        outputStructType=_SESSION_US_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return sessions.select(
        "user_id",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events",
        "total_value",
    )


def sessionize_native(
    events: DataFrame,
    gap_seconds: int = 1800,
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """The built-in form: ``F.session_window`` (Spark 3.2+) — dynamic
    merge-on-overlap session windows, usable identically in batch and
    Structured Streaming (with a watermark).

    Boundary semantics differ from sessionize_batch at EXACT gap
    distance: session_window closes when the next event is >= gap
    away, the lag-based form closes only when it is > gap. Pick one
    contract per pipeline; tests assert equivalence under a gap that
    cannot tie.
    """
    return (
        events.groupBy(
            F.col(user_col).alias("user_id"),
            F.session_window(F.col(ts_col), f"{gap_seconds} seconds").alias("sw"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            as_value(units_sum(F.coalesce(F.col(value_col), F.lit(0.0)))).alias(
                "total_value"
            ),
            F.min(ts_col).alias("session_start"),
            F.max(ts_col).alias("session_end"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


def _make_tws_processor(gap_seconds: int):
    """transformWithStateInPandas processor twin of _make_sessionizer —
    same fold, same state tuple, same emit-on-close contract, written
    against Spark 4's replacement stateful API (named value-state
    handles + timer surface instead of the per-group GroupState
    object). The StatefulProcessor subclass is function-local so the
    base-class import stays off the module import path."""
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_us = gap_seconds * 1_000_000

    class SessionProcessor(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._session = handle.getValueState("session", _STATE_SCHEMA)

        def handleInputRows(self, key, rows, timerValues):
            import pandas as pd

            batch = pd.concat(list(rows)).sort_values("ts_us")
            prior = self._session.get() if self._session.exists() else None
            if prior is not None:
                start_us, last_us, n, cents = prior
            else:
                start_us, last_us, n, cents = None, None, 0, 0
            closed: list[tuple] = []
            for us, val in zip(batch["ts_us"], batch["value"]):
                us = int(us)
                if last_us is not None and us - last_us > gap_us:
                    closed.append(
                        (key[0], start_us, last_us, n, cents / 100.0)
                    )
                    start_us, n, cents = None, 0, 0
                if start_us is None:
                    start_us = us
                last_us = us
                n += 1
                if val == val and val is not None:
                    cents += int(float(val) * 100.0 + 0.5)
            self._session.update((start_us, last_us, n, cents))
            if closed:
                yield pd.DataFrame(
                    closed,
                    columns=[
                        "user_id",
                        "start_us",
                        "end_us",
                        "n_events",
                        "total_value",
                    ],
                )

        def close(self) -> None:
            pass

    return SessionProcessor()


def sessionize_stream_tws(
    events_stream: DataFrame,
    gap_seconds: int = 1800,
) -> DataFrame:
    """sessionize_stream on ``transformWithStateInPandas`` — Spark 4's
    successor to ``applyInPandasWithState`` (SPARK-49046 lineage): the
    processor object owns named state handles (getValueState) instead
    of receiving one opaque GroupState, which is what production
    pipelines migrate to for multi-state operators, TTL, and timers.
    Fold, state tuple, and emit-on-close contract are IDENTICAL to
    sessionize_stream; the processor-level contract test pins the TWS
    fold to the applyInPandasWithState fold on the same batches via
    injected fake state (tests/test_streaming_and_incremental.py).
    Timestamps cross the Arrow boundary as epoch-micro LONGS both
    ways, same as the older twin (DST-proof gap math).

    ENVIRONMENT GATE (the codec-seam pattern): executing TWS requires
    (a) the RocksDB state store provider and (b) ``google.protobuf``
    in the Python env — Spark's TWS state protocol is protobuf-framed
    (pyspark/sql/streaming/proto/StateMessage_pb2). The end-to-end
    equivalence test skip-marks itself when protobuf is absent (this
    container lacks it); the fold itself is exercised everywhere via
    the fake-state contract test."""
    prepared = events_stream.select(
        "user_id",
        _epoch_micros(events_stream, "ts").alias("ts_us"),
        "value",
    )
    sessions = prepared.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_make_tws_processor(gap_seconds),
        outputStructType=_SESSION_US_SCHEMA,
        outputMode="append",
        timeMode="none",
    )
    return sessions.select(
        "user_id",
        F.timestamp_micros(F.col("start_us")).alias("session_start"),
        F.timestamp_micros(F.col("end_us")).alias("session_end"),
        "n_events",
        "total_value",
    )
