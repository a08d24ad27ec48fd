"""foreachBatch upsert sinks (plain and versioned), native session
windows over a stream, and the EWMA scorer's hot-key cost."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from hse_etl_ochirov_aldar_spark.sources.readers import load_table
from hse_etl_ochirov_aldar_spark.sources.sinks import upsert_keep_newest

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("event_type", T.StringType()),
    ]
)


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_sj_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _events(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select(
            "event_id",
            "user_id",
            "ts",
            F.lower(F.trim("event_type")).alias("event_type"),
        )
    )


def test_foreach_batch_upsert_sink(spark, sf_dir, tmpdir):
    ev = _events(spark, sf_dir).limit(0)  # schema only; use synthetic rows
    src = f"{tmpdir}/up_src"
    spark.createDataFrame(
        [(1, 100, "2024-01-01 10:00:00", "view"),
         (2, 100, "2024-01-01 11:00:00", "view"),
         (3, 200, "2024-01-01 10:30:00", "view")],
        ["event_id", "user_id", "ts_s", "event_type"],
    ).select(
        "event_id", "user_id", F.to_timestamp("ts_s").alias("ts"), "event_type"
    ).write.parquet(src)

    stream = spark.readStream.schema(EVENT_SCHEMA).parquet(src)
    latest = stream.select(
        "user_id", F.col("event_id").alias("ver"), "ts"
    )
    target = f"{tmpdir}/up_target"
    q = (
        latest.writeStream.foreachBatch(
            lambda batch, _epoch: upsert_keep_newest(
                spark, batch, target, ["user_id"], "ver"
            )
        )
        .option("checkpointLocation", f"{tmpdir}/up_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {(r.user_id, r.ver) for r in spark.read.parquet(target).collect()}
    assert rows == {(100, 2), (200, 3)}  # newest per user kept


def test_native_session_window_streaming(spark, sf_dir, tmpdir):
    """F.session_window in Structured Streaming: watermarked append-mode
    session aggregation emits closed sessions; totals match the batch
    native form for every emitted session."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.sources.readers import load_table
    from hse_etl_ochirov_aldar_spark.streaming.sessionize import sessionize_native

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select("user_id", "ts", "value")
    )
    src = f"{tmpdir}/ns_src"
    ev.write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).parquet(src).withWatermark("ts", "1 day")
    )
    q = (
        stream.groupBy(
            "user_id", F.session_window("ts", "7201 seconds").alias("sw")
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("sw.start").alias("w_start"), "n_events")
        .writeStream.format("memory")
        .queryName("t_native_sessions")
        .outputMode("append")
        .option("checkpointLocation", f"{tmpdir}/ns_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.user_id, str(r.w_start)): r.n_events
        for r in spark.table("t_native_sessions").collect()
    }
    batch = {
        (r.user_id, str(r.session_start)): r.n_events
        for r in sessionize_native(ev, gap_seconds=7201).collect()
    }
    # every emitted (closed) session matches its batch twin
    assert len(streamed) > 0
    for key, n in streamed.items():
        assert batch.get(key) == n, key


def test_write_stream_versioned_upsert(spark, tmp_path):
    """Streaming micro-batches land as atomic versioned commits; the
    final snapshot equals a batch keep-newest over all input."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.sources.sinks import (
        current_version,
        read_versioned,
        versioned_upsert,
    )

    src = str(tmp_path / "vsrc")
    cols = ["k", "ver", "val"]
    spark.createDataFrame([("a", 1, 10), ("b", 1, 20)], cols).coalesce(
        1
    ).write.parquet(src)
    import time

    time.sleep(1.1)  # distinct mtime buckets -> two micro-batches in order
    spark.createDataFrame([("a", 2, 11), ("c", 1, 30)], cols).coalesce(
        1
    ).write.mode("append").parquet(src)

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("ver", T.LongType()),
            T.StructField("val", T.LongType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    root = str(tmp_path / "vtable_stream")
    q = (
        stream.writeStream.foreachBatch(
            lambda batch, _epoch: versioned_upsert(spark, batch, root, ["k"], "ver")
        )
        .option("checkpointLocation", str(tmp_path / "vckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert current_version(spark, root) == 2
    got = {(r.k, r.ver, r.val) for r in read_versioned(spark, root).collect()}
    assert got == {("a", 2, 11), ("b", 1, 20), ("c", 1, 30)}


def test_ewma_hot_key_walltime(spark):
    """Skew contract check (ewma_scores_batch docstring): one mega-key
    with 10^6 events must fold in bounded wall-time — the sequential
    per-key loop is the documented scale ceiling, so pin its measured
    cost here. A regression to per-row pandas boxing (or an accidental
    O(n^2) state concat) blows the generous bound immediately."""
    import time

    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.streaming.anomaly import ewma_scores_batch

    n = 1_000_000
    df = spark.range(n).select(
        F.lit(1).cast("long").alias("user_id"),
        F.col("id").alias("event_id"),
        F.timestamp_micros(F.col("id") * 1_000_000).alias("ts"),
        # stable signal with a deterministic 1-in-100k spike
        F.when(F.col("id") % 100_000 == 99_999, F.lit(1000.0))
        .otherwise(10.0 + (F.col("id") % 7).cast("double") / 10.0)
        .alias("value"),
    )
    t0 = time.monotonic()
    flagged = ewma_scores_batch(df).count()
    elapsed = time.monotonic() - t0
    assert flagged >= 9  # every spike after warmup crosses |z| >= 3
    assert elapsed < 60.0, f"hot-key fold took {elapsed:.1f}s for {n} rows"
