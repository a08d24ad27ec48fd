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
on the same key. The snapshot shuffles once. No
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
