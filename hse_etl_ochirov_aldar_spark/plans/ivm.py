"""Incremental materialized-view maintenance for ADDITIVE aggregates.

The reference rebuilds marts by re-aggregating history every run
(build_analytical_marts.py drops and refills; HW-4's window rebuild
re-scans the window). For distributive aggregates — SUM and COUNT, and
anything derived from them downstream (AVG = sum/count, rates, shares)
— the mart can instead absorb each new fact batch WITHOUT touching
fact history: add the delta to the existing mart per group, commit
atomically. Cost per refresh is O(delta + mart), not O(history) — at
100 TB of facts with a groups-sized mart, that is the difference
between a per-batch job and an impossible one.

One aggregation per refresh: each delta row is projected to the mart's
shape (``n_rows`` = weight, ``sum_<c>`` = c × weight), unioned with the
mart and summed per group, so the refresh shuffles once. For integer
measures the sums are those of aggregating the delta first; a
floating-point measure may differ in the last ulp, since the order of
additions changes.

Retractions come free from the algebra: a delta row with ``weight=-1``
subtracts its measures (late-arriving corrections, GDPR deletes,
reversed orders). Groups whose count reaches zero are dropped from the
mart. min/max are deliberately NOT supported — they are not
subtractable, which is exactly why this module is named *additive*.

Write path: every refresh commits through the versioned form of the
one commit protocol (sources/sinks module docstring): the combined
mart is staged in ``v<n+1>`` and published by one ``_log/<n+1>.commit``
rename that also records the refresh's EPOCH. Publication and replay
guard are one atomic step, so a batch redelivered under the same epoch
(Structured Streaming replays, a rerun scheduler task) is a committed
no-op, and a crash anywhere leaves the previous mart readable. Each
refresh deletes a crashed writer's unpublished ``v<n+1>`` before it
reads. Readers use ``sources.sinks.read_versioned`` and never see a
partial refresh; a refresh without an epoch is NOT idempotent
(additive semantics).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sinks import _commit_versioned


def maintain_additive_mart_versioned(
    spark: SparkSession,
    root: str,
    delta: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    weight_col: str | None = None,
    epoch: int | None = None,
    keep_versions: int = 2,
) -> int | None:
    """EXACTLY-ONCE additive-mart refresh: add one delta batch to the
    current committed mart in one aggregation (the first call
    bootstraps from the batch alone) and commit the result with
    ``epoch`` in the same marker. If ``epoch`` <= the committed epoch
    the batch is a replay: it is not applied and None is returned. A
    crash before the marker rename leaves only an unpublished data dir, so the replayed batch
    recomputes from the last COMMITTED mart and applies exactly once
    wherever the crash lands. Returns the committed version, or None
    on replay. O(delta + mart) per refresh. A Structured Streaming
    ``foreachBatch`` sink passes its batch id as ``epoch``, so a
    replayed micro-batch is a no-op.
    """
    w = F.col(weight_col) if weight_col else F.lit(1)
    rows = delta.select(
        *group_cols,
        w.cast("long").alias("n_rows"),
        *[(F.col(c) * w).alias(f"sum_{c}") for c in sum_cols],
    )

    def combine(mart: DataFrame | None) -> DataFrame:
        both = rows if mart is None else mart.unionByName(rows)
        combined = both.groupBy(*group_cols).agg(
            *[F.sum(c).alias(c) for c in rows.columns if c not in group_cols]
        )
        return combined.where(F.col("n_rows") != 0)

    return _commit_versioned(
        spark, root, combine, epoch=epoch, keep_versions=keep_versions
    )
