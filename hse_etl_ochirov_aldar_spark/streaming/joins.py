"""Stream-stream join + foreachBatch sink patterns (SURVEY §2.9
Spark-native extension; no reference analogue — its pipelines are
single-source batches).

- ``view_purchase_attribution``: the canonical watermarked
  stream-stream inner join — attribute each purchase to a prior view
  by the same user within the attribution window. Both sides carry
  watermarks and the join predicate carries an event-time bound, so
  state for either side is evicted once the watermark passes the
  window: state size is O(events in window), not O(stream).
- ``write_stream_upsert``: production sink idiom — ``foreachBatch``
  hands each micro-batch to the BATCH upsert sink
  (sources.sinks.upsert_keep_newest, committed through the sinks'
  commit protocol); keep-newest is idempotent on (key, version), so a
  replayed batch converges to the same table. The same hook swaps to
  Delta MERGE unchanged.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def view_purchase_attribution(
    views: DataFrame,
    purchases: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked stream-stream inner join: purchases matched to every
    view by the same user in the preceding ``window``.

    Inputs are streaming DataFrames with columns
    (user_id, ts, event_id, ...); output one row per (view, purchase)
    pair with the attribution lag in seconds.
    """
    v = (
        views.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
    )
    p = (
        purchases.withWatermark("ts", watermark)
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
        )
    )
    return v.join(
        p,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {window}")),
    ).select(
        F.col("v_user").alias("user_id"),
        "view_id",
        "purchase_id",
        (F.unix_timestamp("p_ts") - F.unix_timestamp("v_ts")).alias("lag_s"),
    )


def write_stream_upsert(
    result: DataFrame,
    path: str,
    checkpoint_dir: str,
    key_cols: list[str],
    version_col: str,
    query_name: str = "stream_upsert",
):
    """foreachBatch keyed-upsert sink: each micro-batch is merged into
    the Parquet target with keep-newest semantics. Runs to completion
    with availableNow; returns the finished StreamingQuery."""
    from ..sources.sinks import upsert_keep_newest

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        upsert_keep_newest(
            batch_df.sparkSession, batch_df, path, key_cols, version_col
        )

    q = (
        result.writeStream.foreachBatch(merge_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def write_stream_versioned_upsert(
    result: DataFrame,
    root: str,
    checkpoint_dir: str,
    key_cols: list[str],
    version_col: str,
    keep_versions: int = 2,
    query_name: str = "stream_versioned_upsert",
):
    """foreachBatch keyed upsert into the ATOMIC versioned sink
    (sources.sinks.versioned_upsert): each micro-batch commits a new
    all-or-nothing snapshot, so a reader concurrent with the stream
    never observes a partially-merged table — the guarantee a plain
    Parquet reader of write_stream_upsert's target does not get while
    a commit is being applied.

    Single writer by construction: Structured Streaming serializes
    foreachBatch invocations within a query, matching the sink's
    single-writer contract. A batch replayed after a crash re-commits
    the same merge as a NEW version — keep-newest is idempotent on
    (key, version), so the snapshot converges (at-least-once batches,
    exactly-once visible state). Runs to completion with availableNow;
    returns the finished StreamingQuery.
    """
    from ..sources.sinks import versioned_upsert

    def merge_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        versioned_upsert(
            batch_df.sparkSession,
            batch_df,
            root,
            key_cols,
            version_col,
            keep_versions=keep_versions,
        )

    q = (
        result.writeStream.foreachBatch(merge_batch)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q
