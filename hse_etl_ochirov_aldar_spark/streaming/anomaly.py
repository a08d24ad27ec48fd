"""Per-key online EWMA z-score anomaly scoring.

The monitoring op an event feed needs that no built-in aggregate
expresses: each key keeps an exponentially weighted mean and variance,
scores each value against the state BEFORE folding it in (an anomaly
must be judged by the past, not by a baseline it already
contaminated), and emits only the rows whose |z| crosses the
threshold. State per key is three numbers, bounded regardless of
history length.

Determinism: events are folded in (ts, event_id) order per key. The
fold is a SEQUENTIAL chain of IEEE-754 double ops (sub/mul/add/hardware
sqrt, one fixed order — no reduction whose summation order an engine
could change), so any engine replaying the chain reproduces the scores
bit-for-bit: ewma_scores_batch IS an oracle'd catalog entry
(ewma_anomaly_scores, recursive-CTE oracle), unlike the Arrow-SUM twins
the PERF notes exclude from oracles.

Scale shape: one shuffle on the key; Arrow batches per partition;
state O(1) per key. The same fold at 100 TB history is why EWMA beats
windowed stddev here — constant state versus a window buffer.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame
from pyspark.sql import types as T

SCORE_SCHEMA = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("zscore", T.DoubleType()),
        T.StructField("ewma_mean", T.DoubleType()),
    ]
)

_WARMUP = 5  # score only after this many observations seeded the state


def ewma_scores_batch(
    df: DataFrame,
    alpha: float = 0.2,
    threshold: float = 3.0,
) -> DataFrame:
    """Anomalous rows of a (user_id, event_id, ts, value) frame with
    their z-score and the EWMA mean they were judged against: one key
    shuffle, then the fold in per-key time order.

    Shape: repartition(key) + sortWithinPartitions(key, epoch-micros,
    event_id) + ONE mapInPandas whose loop resets state at each key
    change. Semantically identical to groupBy(key).applyInPandas(fold)
    — the shuffle is the same hash partitioning and the sort gives the
    same per-key order — but ~6x faster measured at sf0.1 (3.0s ->
    0.53s warm, bit-identical output): applyInPandas materializes a
    pandas DataFrame PER GROUP, and with ~10k small user groups that
    per-group overhead dwarfs the fold itself.

    Skew contract: the fold is inherently SEQUENTIAL per key (each
    z-score is judged against state built from every earlier event of
    that key), so one mega-key serializes onto one task at Python-loop
    speed — measured ~1s per 10^6 events/key (test_ewma_hot_key_walltime).
    A key with 10^8 events costs ~100s on its one core; if profiling
    (operators.profile.skew_report) shows keys at that scale, shard the
    key upstream by a coarse time bucket and re-seed state per shard, or
    accept the tail task. Parallelizing WITHIN a key would change
    summation order and break the bit-exact oracle contract above."""
    from .sessionize import _epoch_micros

    base = df.select(
        "user_id",
        "event_id",
        "ts",
        "value",
        _epoch_micros(df, "ts").alias("_ts_us"),
    )
    parts = base.repartition("user_id").sortWithinPartitions(
        "user_id", "_ts_us", "event_id"
    )

    def fold_partition(batches):
        import math

        import pandas as pd

        cur: Any = object()  # sentinel != any real key (incl. None)
        mean = var = 0.0
        n = 0
        out_u: list = []
        out_t: list = []
        out_v: list = []
        out_z: list = []
        out_m: list = []
        for pdf in batches:
            # bulk tolist: one C-level pass, no per-row Series boxing;
            # state carries across Arrow batches within the partition
            for uid, ts, val in zip(
                pdf["user_id"].tolist(),
                pdf["ts"].tolist(),
                pdf["value"].tolist(),
            ):
                if uid != cur:
                    cur = uid
                    mean = var = 0.0
                    n = 0
                if val is None or val != val:
                    continue
                v = val if type(val) is float else float(val)
                if n >= _WARMUP and var > 0.0:
                    # math.sqrt is IEEE-754 correctly rounded (hardware
                    # sqrt), so any engine reproduces it bit-for-bit;
                    # var ** 0.5 goes through libm pow, whose last ulp
                    # is implementation-defined — that difference is
                    # what separates an oracle-checkable fold from a
                    # tolerance test
                    z = (v - mean) / math.sqrt(var)
                    if abs(z) >= threshold:
                        out_u.append(uid)
                        out_t.append(ts)
                        out_v.append(v)
                        out_z.append(z)
                        out_m.append(mean)
                if n == 0:
                    mean, var = v, 0.0
                else:
                    d = v - mean
                    mean = mean + alpha * d
                    var = (1.0 - alpha) * (var + alpha * d * d)
                n += 1
        if out_u:
            yield pd.DataFrame(
                {
                    "user_id": out_u,
                    "ts": out_t,
                    "value": out_v,
                    "zscore": out_z,
                    "ewma_mean": out_m,
                }
            )

    return parts.mapInPandas(fold_partition, SCORE_SCHEMA)
