"""Gap-based sessionization.

The reference has no sessionization, but its session-table domain
(user_sessions with start/end times, final-module-3/airflow/dags/
seed_mongo.py:113-133) makes it a natural custom operator: group
events by user, close a session when the gap to the next event
exceeds ``gap_seconds``.

``sessionize_batch``: lag-gap flag + running sum over a per-user
window -> session ids -> per-session aggregate. Pure DataFrame ops,
two shuffles on user_id (window + groupBy share the same hash
partitioning, so Catalyst reuses the exchange). SQL-expressible,
oracle-checked. At 100 TB the window is per-user (parallel, no
global sort).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import as_value, units_sum


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
