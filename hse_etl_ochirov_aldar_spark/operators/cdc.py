"""CDC change-feed application: the batch MERGE that turns a snapshot
plus an I/U/D change feed into the next snapshot.

Generalizes the reference's keep-newest upsert
(mongo_to_postgres_replication.py:149-185 keeps the max-version row per
key; sources/sinks.upsert_keep_newest is its sink form) with DELETE
semantics — the missing third of the replication contract: a key whose
NEWEST change is a delete leaves the snapshot entirely, instead of its
tombstone row surviving as data.

Scale shape (100 TB): one window over the CHANGE FEED keyed on the
business key (the feed is deltas — orders of magnitude smaller than
the snapshot), then ONE full-outer equi-join snapshot <-> newest-change
on the same key. The snapshot shuffles once; with a bucketed snapshot
(sources/sinks.write_bucketed) even that shuffle disappears. No
row-at-a-time merge loop, no driver state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cdc_apply(
    snapshot: DataFrame,
    changes: DataFrame,
    key_cols: Sequence[str],
    ver_col: str = "ver",
    op_col: str = "op",
) -> DataFrame:
    """Next snapshot = ``snapshot`` with ``changes`` applied.

    ``changes`` carries the snapshot's columns plus ``op_col`` (one of
    'I'/'U'/'D' — insert and update are treated identically, as in any
    idempotent MERGE) and ``ver_col`` (per-key monotonically increasing
    version; ties break toward the delete so a same-version
    upsert+delete pair is deterministic rather than order-dependent).

    Per key, only the NEWEST change matters: op 'D' removes the key,
    anything else replaces/creates the row with the change's payload.
    Keys untouched by the feed pass through unchanged. Output schema is
    the snapshot schema.
    """
    keys = list(key_cols)
    if not keys:
        raise ValueError("key_cols must be non-empty")
    payload = [c for c in snapshot.columns if c not in keys]
    w = Window.partitionBy(*keys).orderBy(
        F.col(ver_col).desc(),
        # delete wins a same-version tie: the only order-independent
        # reading of a feed that emits both at one version
        F.when(F.col(op_col) == "D", 1).otherwise(0).desc(),
    )
    newest = (
        changes.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select(
            *[F.col(k).alias(f"__k_{k}") for k in keys],
            F.col(op_col).alias("__op"),
            *[F.col(c).alias(f"__c_{c}") for c in payload],
        )
    )
    cond = None
    for k in keys:
        eq = snapshot[k].eqNullSafe(F.col(f"__k_{k}"))
        cond = eq if cond is None else (cond & eq)
    joined = snapshot.join(newest, cond, "full_outer")
    survives = F.col("__op").isNull() | (F.col("__op") != "D")
    out_cols = [
        F.coalesce(F.col(f"__k_{k}"), snapshot[k]).alias(k) for k in keys
    ] + [
        F.when(F.col("__op").isNotNull(), F.col(f"__c_{c}"))
        .otherwise(snapshot[c])
        .alias(c)
        for c in payload
    ]
    return joined.where(survives).select(*out_cols)


def cdc_apply_versioned(
    spark,
    root: str,
    batch: DataFrame,
    key_cols: Sequence[str],
    ver_col: str = "ver",
    op_col: str = "op",
    epoch: int | None = None,
    keep_versions: int = 2,
) -> int | None:
    """EXACTLY-ONCE CDC batch apply into a versioned snapshot (the
    sources/sinks commit protocol, versioned form): the batch epoch
    rides INSIDE the atomic commit marker, so a replayed batch — whose
    'I' of a key a later batch deleted would otherwise resurrect it —
    is a committed no-op. The first batch bootstraps an empty snapshot
    from the batch schema minus the CDC columns. Returns the committed
    version, or None when ``epoch`` is already committed (replay)."""
    from ..sources.sinks import _commit_versioned

    out_cols = [c for c in batch.columns if c not in (ver_col, op_col)]

    def apply(snap: DataFrame | None) -> DataFrame:
        if snap is None:
            snap = batch.select(*out_cols).limit(0)
        return cdc_apply(snap, batch, list(key_cols), ver_col, op_col)

    return _commit_versioned(
        spark, root, apply, epoch=epoch, keep_versions=keep_versions
    )


def streaming_cdc_apply_versioned(
    stream: DataFrame,
    root: str,
    checkpoint: str,
    key_cols: Sequence[str],
    ver_col: str = "ver",
    op_col: str = "op",
    trigger_available_now: bool = True,
):
    """Maintain a snapshot from a CDC change STREAM, exactly once: each
    micro-batch applies through :func:`cdc_apply_versioned` with its
    epoch recorded atomically with the snapshot publication. Readers
    use sinks.read_versioned(root) and never observe a partial apply;
    replays (same epoch id) are no-ops with no residual crash window.
    Returns the StreamingQuery."""

    def _apply(batch: DataFrame, epoch: int) -> None:
        cdc_apply_versioned(
            batch.sparkSession,
            root,
            batch,
            list(key_cols),
            ver_col,
            op_col,
            epoch=epoch,
        )

    writer = (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
