"""Incremental materialized-view maintenance for ADDITIVE aggregates.

The reference rebuilds marts by re-aggregating history every run
(build_analytical_marts.py drops and refills; HW-4's window rebuild
re-scans the window). For distributive aggregates — SUM and COUNT, and
anything derived from them downstream (AVG = sum/count, rates, shares)
— the mart can instead absorb each new fact batch WITHOUT touching
fact history: aggregate the delta alone, combine it with the existing
mart by per-group addition, commit atomically. Cost per refresh is
O(delta + mart), not O(history) — at 100 TB of facts with a
groups-sized mart, that is the difference between a per-batch job and
an impossible one.

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


def aggregate_delta(
    delta: DataFrame,
    group_cols: Sequence[str],
    sum_cols: Sequence[str],
    weight_col: str | None = None,
) -> DataFrame:
    """Partial-aggregate one fact batch into mart shape: per group,
    ``n_rows`` (sum of weights) and ``sum_<c>`` per measure (measure ×
    weight). ``weight_col=None`` means every row weighs +1."""
    w = F.col(weight_col) if weight_col else F.lit(1)
    aggs = [F.sum(w.cast("long")).alias("n_rows")] + [
        F.sum(F.col(c) * w).alias(f"sum_{c}") for c in sum_cols
    ]
    return delta.groupBy(*group_cols).agg(*aggs)


def combine_marts(
    mart: DataFrame, delta_agg: DataFrame, group_cols: Sequence[str]
) -> DataFrame:
    """Per-group addition of two mart-shaped relations; groups whose
    combined ``n_rows`` is zero (fully retracted) drop out."""
    meas = [c for c in mart.columns if c not in group_cols]
    combined = (
        mart.unionByName(delta_agg)
        .groupBy(*group_cols)
        .agg(*[F.sum(c).alias(c) for c in meas])
    )
    return combined.where(F.col("n_rows") != 0)


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
    """EXACTLY-ONCE additive-mart refresh: aggregate one delta batch,
    add it to the current committed mart (the first call bootstraps)
    and commit the result with ``epoch`` in the same marker. If
    ``epoch`` <= the committed epoch the batch is a replay: it is not
    applied and None is returned. A crash before the marker
    rename leaves only an unpublished data dir, so the replayed batch
    recomputes from the last COMMITTED mart and applies exactly once
    wherever the crash lands. Returns the committed version, or None
    on replay. O(delta + mart) per refresh. A Structured Streaming
    ``foreachBatch`` sink passes its batch id as ``epoch``, so a
    replayed micro-batch is a no-op.
    """
    delta_agg = aggregate_delta(delta, group_cols, sum_cols, weight_col)

    def combine(mart: DataFrame | None) -> DataFrame:
        if mart is None:
            return delta_agg.where(F.col("n_rows") != 0)
        return combine_marts(mart, delta_agg, group_cols)

    return _commit_versioned(
        spark, root, combine, epoch=epoch, keep_versions=keep_versions
    )
