"""Plan-metadata probes shared by the CPU-bound operator families.

The one question these answer: "would this input arrive in fewer
partitions than the session has cores?" — asked before per-row CPU
work (signature folds, dense-vector scoring) so a small single-file
scan doesn't serialize onto one core. The probe reads Catalyst's
logical-plan statistics (``optimizedPlan().stats().sizeInBytes`` — for
file sources the actual byte size of the files after pruning), NOT
``df.rdd.getNumPartitions()``: the RDD probe forces a full physical
plan + RDD conversion per call outside AQE (measured ~25x slower), and
the converted plan is then thrown away.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_FALLBACK_MAX_PARTITION_BYTES = 128 * 1024 * 1024


def _max_partition_bytes(spark) -> int:
    raw = spark.conf.get(
        "spark.sql.files.maxPartitionBytes",
        str(_FALLBACK_MAX_PARTITION_BYTES),
    )
    try:
        # Spark's own byte-string parser handles '134217728b', '128m', ...
        return int(
            spark._jvm.org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
                raw
            )
        )
    except Exception:
        return _FALLBACK_MAX_PARTITION_BYTES


def definitely_small_frame(
    df: DataFrame, max_rows: int, min_bytes_per_row: int = 4
) -> bool:
    """True only when Catalyst's size estimate PROVES ``df`` holds
    fewer than ``max_rows`` rows: every leaf is a file relation (the
    spread_small_input trust rule — LocalRelation/RDD estimates can
    undershoot wildly) and the estimated bytes are under ``max_rows x
    min_bytes_per_row``. The bytes/row floor is deliberately tiny: no
    real table packs under ~4 bytes/row on disk, so a True answer is a
    conservative row-count bound, while False just means "cannot
    prove" — callers must treat it as unknown, never as "large"."""
    plan = df._jdf.queryExecution().optimizedPlan()
    try:
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).getClass().getSimpleName() != "LogicalRelation":
                return False
        est = int(plan.stats().sizeInBytes())
    except Exception:
        return False
    return 0 < est < max_rows * min_bytes_per_row


_REPARTITION_NODES = frozenset(
    {"Repartition", "RepartitionByExpression", "RebalancePartitions"}
)


def _already_repartitioned(plan) -> bool:
    """True when the optimized logical plan contains an explicit
    repartition anywhere — the caller (or a query above the operator)
    has already chosen a parallel layout, so stacking a second
    round-robin exchange on top only re-shuffles the same rows.

    The r12 motivation: the fix for the serialized-Generate family
    (expensive per-row expressions evaluated BELOW the spread's
    exchange — see duplicate_span_stats) is to spread the SCAN before
    building the expression; without this check the operator-level
    spread would then add a second, pure-overhead exchange of the
    derived rows at test scale."""
    stack = [plan]
    while stack:
        node = stack.pop()
        if node.getClass().getSimpleName() in _REPARTITION_NODES:
            return True
        children = node.children()
        for i in range(children.size()):
            stack.append(children.apply(i))
    return False


def spread_small_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition up to the default parallelism, only when
    Catalyst's size estimate says the scan would yield fewer partitions
    than the session has cores (estimated bytes < cores x
    maxPartitionBytes). At real scale the estimate is huge and this is
    a no-op — it never collapses a large scan; unknown-size sources
    (estimate = Long.Max) are likewise left untouched. Without it, a
    corpus read from one small parquet file runs per-row CPU work on a
    single core: measured 6.4x slower for signature folds and 18x for
    broadcast-join vector scoring at sf0.1 on 32 cores.

    Known trade vs the old RDD probe: bytes/maxPartitionBytes only
    approximates the partition count for SPLITTABLE sources. A large
    single-file non-splittable scan (one gzipped CSV/JSON) estimates
    big, no-ops here, and still arrives as one partition — if such a
    source ever feeds a CPU-bound family, repartition it explicitly at
    the read (the package's own readers stage through splittable
    parquet/JSON-lines, so none of the in-repo paths hit this).

    The byte estimate is only trusted for plans whose every leaf is a
    file relation: a LocalRelation/LogicalRDD (createDataFrame, RDD
    lineage) or a stale-stats source can undershoot wildly, and the old
    behavior would then force a full shuffle — possibly COALESCING an
    input that already had more partitions than cores. Non-file leaves
    now no-op (such inputs already inherit the parallelism they were
    built with)."""
    if df.isStreaming:
        # Streaming scans are already micro-batch partitioned, and
        # resolving optimizedPlan() on a streaming frame raises
        # AnalysisException — the spread is meaningless there anyway.
        return df
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        plan = df._jdf.queryExecution().optimizedPlan()
        if _already_repartitioned(plan):
            return df
        leaves = plan.collectLeaves()
        for i in range(leaves.size()):
            if leaves.apply(i).getClass().getSimpleName() != "LogicalRelation":
                return df
    except Exception:
        return df
    est_bytes = int(plan.stats().sizeInBytes())
    if est_bytes <= 0 or est_bytes >= target * _max_partition_bytes(spark):
        return df
    return df.repartition(target)
