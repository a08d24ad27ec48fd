"""Structured Streaming extension (SURVEY.md §2.9).

The reference has no true streaming — its `@daily` Airflow schedule
re-runs a batch (HW-4/airflow/dags/iot_temperature.py:271). The
Spark-native reading of that contract is a Structured Streaming job
with:

- ``trigger(availableNow=True)``: process everything available, then
  stop — exactly a scheduled batch run, but incremental via the
  checkpoint (only new files are read on the next run; the reference
  re-downloads and recomputes everything every day).
- watermark + tumbling 1-day window: the principled late-data story the
  reference lacks (its only late-data handling is the last-7-days
  rebuild window, I2).

At scale: state is bounded by (watermark horizon x days) aggregate rows
UNDER update/append output (the production modes — e.g. update mode
into a foreachBatch ``sources.sinks.upsert_keep_newest``), which write
only changed windows per micro-batch;
the complete-mode memory runner below is the test/driver surface and
deliberately retains everything. File-source listing is incremental.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.exact import avg_units_expr, units_sum

EVENTS_STREAM_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def streaming_daily_avg(
    spark: SparkSession,
    source_dir: str,
    watermark: str = "2 days",
) -> DataFrame:
    """readStream over a parquet directory of events -> watermarked
    1-day tumbling-window average of ``value`` (streaming twin of
    operators.aggregates.daily_avg / SURVEY Q2)."""
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    # Exact integer cent units + half-up division (functions/exact.py):
    # round(avg(double), 2) is summation-order nondeterministic across
    # engines AND across micro-batch orderings — the unit sum is not.
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            units_sum("value").alias("s_units"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .select(
            F.col("w.start").cast("date").alias("day"),
            avg_units_expr("s_units", "n_readings", 2, 2).alias("avg_value"),
            "n_readings",
        )
    )


def run_available_now(
    result: DataFrame, checkpoint_dir: str, query_name: str = "daily_avg_stream"
):
    """Run to completion with availableNow (the scheduled-batch analogue)
    into an in-memory sink; returns the finished StreamingQuery.

    HARNESS RUNNER, deliberately complete-mode: the memory sink must
    hold the whole queryable result, and in complete mode the
    watermark never evicts aggregation state — state and output grow
    with every distinct window, which is exactly what a collectible
    test/driver surface wants and exactly what an unbounded production
    stream must NOT do. The bounded-state production path is
    update-mode + a foreachBatch ``sources.sinks.upsert_keep_newest``
    (keep-newest per window into parquet), where the module docstring's
    "state bounded by watermark horizon" contract actually applies."""
    q = (
        result.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("complete")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def streaming_sliding_counts(
    spark: SparkSession,
    source_dir: str,
    window: str = "1 hour",
    slide: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Sliding-window per-type event counts — the trending/monitoring
    shape the tumbling daily aggregate cannot express (each event
    contributes to window/slide overlapping windows, so a spike shows
    up within one slide interval instead of at the day boundary).

    State grows with (overlapping windows in the watermark horizon x
    active types), both bounded; with append output only windows the
    watermark has closed emit, exactly once each. The batch twin is
    the same F.window(ts, window, slide) aggregate — equivalence is
    pinned in the streaming test suite.
    """
    stream = (
        spark.readStream.schema(EVENTS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 8)
        .parquet(source_dir)
    )
    kind = F.lower(F.trim(F.col("event_type")))
    return (
        stream.where(F.col("ts").isNotNull())
        .withWatermark("ts", watermark)
        .groupBy(
            F.window("ts", window, slide).alias("w"),
            kind.alias("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n_events",
        )
    )
