"""Rank-based exact percentile bounds — bit-identity with the
``percentile``-aggregate path and O(1)-state plan shape.

The ranked twin (operators/percentile.py:grouped_percentile_bounds_ranked)
exists for the 100 TB regime where the exact aggregate's value→count
buffer would not fit executor memory; these tests pin that switching
strategies can never move a result by even one ulp.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.operators.percentile import (
    _exact_bounds,
    global_percentile_bounds,
    grouped_percentile_bounds_ranked,
    grouped_percentile_trim,
    percentile_trim,
)


def _mixed_frame(spark, seed: int, with_nulls: bool = True):
    """Groups of size 1..400, duplicate-heavy small ints mixed with
    continuous doubles, optional nulls and an all-null group."""
    rng = random.Random(seed)
    rows = []
    for g in range(30):
        for _ in range(rng.choice([1, 2, 3, 5, 17, 120, 400])):
            pick = rng.random()
            if with_nulls and pick < 0.1:
                v = None
            elif pick < 0.5:
                v = float(rng.randint(-4, 4))  # heavy ties
            else:
                v = rng.uniform(-1e6, 1e6)
            rows.append((f"g{g}", v))
    if with_nulls:
        rows += [("only_nulls", None)] * 4
    return spark.createDataFrame(rows, "grp string, v double").repartition(16)


@pytest.mark.parametrize("seed", [3, 11])
@pytest.mark.parametrize(
    "lower,upper",
    [(0.05, 0.95), (0.0, 1.0), (1.0 / 3.0, 0.75)],
)
def test_ranked_bounds_bit_identical_to_aggregate(spark, seed, lower, upper):
    df = _mixed_frame(spark, seed)
    buffer = {
        r["grp"]: (r["p_lo"], r["p_hi"])
        for r in df.groupBy("grp")
        .agg(
            F.percentile("v", F.lit(lower)).alias("p_lo"),
            F.percentile("v", F.lit(upper)).alias("p_hi"),
        )
        .collect()
    }
    ranked = {
        r["grp"]: (r["p_lo"], r["p_hi"])
        for r in grouped_percentile_bounds_ranked(
            df, "v", ["grp"], lower, upper
        ).collect()
    }
    # all-null groups: aggregate yields NULL bounds, ranked yields no
    # row — both trim to zero rows; assert that exact contract.
    assert buffer["only_nulls"] == (None, None)
    all_null = {g for g, b in buffer.items() if b == (None, None)}
    assert not all_null & set(ranked)
    assert ranked == {g: b for g, b in buffer.items() if g not in all_null}
    # float == above: bit-identity, not approx


@pytest.mark.parametrize("lower,upper", [(0.05, 0.95), (1.0 / 3.0, 0.75)])
def test_one_aggregate_bounds_bit_identical_to_two(spark, lower, upper):
    """The buffer strategy computes both bounds from one
    ``percentile(v, array(lo, hi))``; on ties, NULLs and an all-NULL
    group it returns exactly what two single-percentage aggregates do."""
    df = _mixed_frame(spark, 5)
    two = {
        r["grp"]: (r["p_lo"], r["p_hi"])
        for r in df.groupBy("grp")
        .agg(
            F.percentile("v", F.lit(lower)).alias("p_lo"),
            F.percentile("v", F.lit(upper)).alias("p_hi"),
        )
        .collect()
    }
    assert two["only_nulls"] == (None, None)
    one = {
        r["grp"]: (r["p_lo"], r["p_hi"])
        for r in _exact_bounds(df, "v", ["grp"], lower, upper).collect()
    }
    assert one == two  # float ==: bit-identity
    whole = df.agg(
        F.percentile("v", F.lit(lower)).alias("p_lo"),
        F.percentile("v", F.lit(upper)).alias("p_hi"),
    ).collect()
    assert global_percentile_bounds(df, "v", lower, upper).collect() == whole
    nulls = df.where(F.col("grp") == "only_nulls")
    assert global_percentile_bounds(nulls, "v", lower, upper).collect()[0] == (
        None, None
    )


def test_ranked_bounds_bit_identical_on_heavy_ties(spark):
    """r11 verdict task #1 fixture: groups where the bracketing VALUES
    are equal (incl. the persisted falsifying example values=[3.0,3.0]
    at p≈0.2465). Spark's aggregate short-circuits tied endpoints to
    the tied value; the ranked twin's product form used to return a
    one-ulp neighbour (3.0000000000000004). Also pins that a row
    sitting exactly on a tied bound trims/clamps identically under
    both strategies."""
    from hse_etl_ochirov_aldar_spark.operators.percentile import (
        grouped_percentile_clamp,
    )

    rng = random.Random(41)
    rows = [("dup2", 3.0), ("dup2", 3.0)]  # the falsifying example
    rows += [("dup9", 7.25)] * 9  # all-tied larger group
    for g in range(12):
        base = rng.uniform(-10.0, 10.0)
        rows += [(f"t{g}", base)] * rng.choice([2, 3, 5, 50])
        rows += [
            (f"t{g}", base + i + 1.0) for i in range(rng.choice([0, 1, 4]))
        ]
    df = spark.createDataFrame(rows, "grp string, v double").repartition(8)
    for lower, upper in [
        (0.2464683648547908, 0.901),  # the hypothesis-drawn p
        (0.0, 1.0),
        (0.5, 0.5),
        (1.0 / 3.0, 2.0 / 3.0),
    ]:
        buffer = {
            r["grp"]: (r["p_lo"], r["p_hi"])
            for r in df.groupBy("grp")
            .agg(
                F.percentile("v", F.lit(lower)).alias("p_lo"),
                F.percentile("v", F.lit(upper)).alias("p_hi"),
            )
            .collect()
        }
        ranked = {
            r["grp"]: (r["p_lo"], r["p_hi"])
            for r in grouped_percentile_bounds_ranked(
                df, "v", ["grp"], lower, upper
            ).collect()
        }
        assert ranked == buffer  # float ==: bit-identity, not approx
    # boundary rows through the full operators: trim + clamp
    t_buf = sorted(map(tuple, grouped_percentile_trim(df, "v", ["grp"]).collect()))
    t_rk = sorted(
        map(
            tuple,
            grouped_percentile_trim(df, "v", ["grp"], strategy="rank").collect(),
        )
    )
    assert t_buf == t_rk and len(t_buf) > 0
    c_buf = sorted(
        ((r.grp, r.v) for r in grouped_percentile_clamp(df, "v", ["grp"], strategy="buffer").collect()),
        key=str,
    )
    c_rk = sorted(
        ((r.grp, r.v) for r in grouped_percentile_clamp(df, "v", ["grp"], strategy="rank").collect()),
        key=str,
    )
    assert c_buf == c_rk and len(c_buf) == len(rows)


def test_ranked_bounds_on_integral_column(spark):
    rng = random.Random(7)
    rows = [(f"g{i % 9}", rng.randint(-1000, 1000)) for i in range(5000)]
    df = spark.createDataFrame(rows, "grp string, v long").repartition(12)
    buffer = {
        r["grp"]: (r["p_lo"], r["p_hi"])
        for r in df.groupBy("grp")
        .agg(
            F.percentile("v", F.lit(0.25)).alias("p_lo"),
            F.percentile("v", F.lit(0.9)).alias("p_hi"),
        )
        .collect()
    }
    ranked = {
        r["grp"]: (r["p_lo"], r["p_hi"])
        for r in grouped_percentile_bounds_ranked(
            df, "v", ["grp"], 0.25, 0.9
        ).collect()
    }
    assert ranked == buffer


def test_trim_strategy_rank_row_identical(spark):
    df = _mixed_frame(spark, 23)
    base = sorted(
        map(tuple, grouped_percentile_trim(df, "v", ["grp"]).collect())
    )
    rank = sorted(
        map(
            tuple,
            grouped_percentile_trim(df, "v", ["grp"], strategy="rank").collect(),
        )
    )
    assert base == rank and len(base) > 0


def test_global_bounds_and_trim_strategy_rank(spark):
    df = _mixed_frame(spark, 31, with_nulls=False)
    buf = global_percentile_bounds(df, "v").collect()[0]
    rk = global_percentile_bounds(df, "v", strategy="rank").collect()[0]
    assert (buf["p_lo"], buf["p_hi"]) == (rk["p_lo"], rk["p_hi"])
    a = sorted(map(tuple, percentile_trim(df, "v").collect()))
    b = sorted(map(tuple, percentile_trim(df, "v", strategy="rank").collect()))
    assert a == b


def test_single_row_groups_and_extremes(spark):
    df = spark.createDataFrame(
        [("a", 5.0), ("b", -1.5), ("c", 0.0)], "grp string, v double"
    )
    out = {
        r["grp"]: (r["p_lo"], r["p_hi"])
        for r in grouped_percentile_bounds_ranked(
            df, "v", ["grp"], 0.0, 1.0
        ).collect()
    }
    assert out == {"a": (5.0, 5.0), "b": (-1.5, -1.5), "c": (0.0, 0.0)}


def test_ranked_plan_has_no_percentile_buffer(spark):
    df = _mixed_frame(spark, 5, with_nulls=False)
    plan = (
        grouped_percentile_bounds_ranked(df, "v", ["grp"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the whole point: no value-buffering Percentile aggregate anywhere
    assert "percentile" not in plan.lower()


def test_strategy_validation(spark):
    df = _mixed_frame(spark, 1, with_nulls=False)
    with pytest.raises(ValueError, match="buffer|rank"):
        grouped_percentile_trim(df, "v", ["grp"], strategy="nope")
    with pytest.raises(ValueError, match="conflict"):
        global_percentile_bounds(df, "v", approx=True, strategy="rank")


def test_ranked_bounds_empty_and_all_null_input(spark):
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    assert grouped_percentile_bounds_ranked(empty, "v", ["grp"]).count() == 0
    nulls = spark.createDataFrame([("a", None), ("b", None)], schema)
    assert grouped_percentile_bounds_ranked(nulls, "v", ["grp"]).count() == 0
    assert (
        grouped_percentile_trim(nulls, "v", ["grp"], strategy="rank").count()
        == 0
    )


def test_global_clamp_strategy_rank_all_null_row_preserving(spark):
    """r10 ADVICE: the GLOBAL rank path pads its empty bounds frame to
    one (NULL, NULL) row, so percentile_clamp stays row-preserving on
    an all-NULL value column — identical to the buffer aggregate's
    NULL-bounds row, instead of crossJoin-dropping every row."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.operators.percentile import (
        percentile_clamp,
    )

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("v", T.DoubleType()),
        ]
    )
    nulls = spark.createDataFrame(
        [("a", None), ("b", None), ("c", None)], schema
    )
    got_rank = percentile_clamp(nulls, "v", strategy="rank")
    got_buffer = percentile_clamp(nulls, "v", strategy="buffer")
    assert sorted((r.k, r.v) for r in got_rank.collect()) == sorted(
        (r.k, r.v) for r in got_buffer.collect()
    )
    assert got_rank.count() == 3
    # non-degenerate input: pad is a no-op, clamp still matches buffer
    mixed = spark.createDataFrame(
        [("a", 1.0), ("b", None), ("c", 100.0), ("d", 5.0)], schema
    )
    r = {(x.k, x.v) for x in percentile_clamp(mixed, "v", lower=0.25, upper=0.75, strategy="rank").collect()}
    b = {(x.k, x.v) for x in percentile_clamp(mixed, "v", lower=0.25, upper=0.75, strategy="buffer").collect()}
    assert r == b and len(r) == 4


def test_ranked_bounds_high_cardinality_self_degrades(spark):
    """r10 verdict task #2: ≥100k groups exceed the census broadcast
    threshold — the hint is dropped (no driver OOM path) and the
    bounds stay bit-identical to the buffer aggregate."""
    n_groups = 120_000
    df = (
        spark.range(n_groups * 3)
        .select(
            (F.col("id") % n_groups).alias("grp"),
            (
                F.when(F.col("id") % 3 == 0, F.col("id") * 3.5)
                .when(F.col("id") % 3 == 1, -F.col("id") / 7.0)
                .otherwise(F.col("id") * 1.0)
            ).alias("v"),
        )
        .repartition(16)
    )
    ranked = grouped_percentile_bounds_ranked(df, "v", ["grp"], 0.05, 0.95)
    buffer = df.groupBy("grp").agg(
        F.percentile("v", F.lit(0.05)).alias("p_lo"),
        F.percentile("v", F.lit(0.95)).alias("p_hi"),
    )
    rk = ranked.select(
        "grp",
        F.col("p_lo").alias("r_lo"),
        F.col("p_hi").alias("r_hi"),
    )
    bf = buffer.select(
        "grp",
        F.col("p_lo").alias("b_lo"),
        F.col("p_hi").alias("b_hi"),
    )
    bad = (
        rk.join(bf, "grp", "full")
        .where(
            (~F.col("r_lo").eqNullSafe(F.col("b_lo")))
            | (~F.col("r_hi").eqNullSafe(F.col("b_hi")))
        )
        .count()
    )
    assert bad == 0
    assert rk.count() == n_groups


def test_ranked_bounds_releases_input_cache(spark):
    """r10 ADVICE: the persisted repartitioned input must be released
    before returning — only the tiny localCheckpoint of the bounds may
    stay cached (bounds-sized, never input-sized)."""
    df = spark.range(200_000).select(
        (F.col("id") % 50).alias("grp"),
        (F.col("id") * 7 % 997).cast("double").alias("v"),
    )
    jmap_before = spark.sparkContext._jsc.getPersistentRDDs()
    before = {k for k in jmap_before.keySet().toArray()}
    out = grouped_percentile_bounds_ranked(df, "v", ["grp"])
    assert out.count() == 50
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for k in jmap.keySet().toArray():
        if k in before:
            continue
        assert jmap.get(k).count() <= 50, "input-sized RDD left cached"


def test_grouped_clamp_rank_buffer_identical_and_row_preserving(spark):
    """grouped_percentile_clamp: strategy='rank' equals 'buffer' row
    for row (LEFT bounds join keeps all-NULL groups), and row count is
    always preserved."""
    from hse_etl_ochirov_aldar_spark.operators.percentile import (
        grouped_percentile_clamp,
    )

    df = _mixed_frame(spark, 7)
    n = df.count()
    a = grouped_percentile_clamp(df, "v", ["grp"], strategy="buffer")
    b = grouped_percentile_clamp(df, "v", ["grp"], strategy="rank")
    assert a.count() == n and b.count() == n
    ka = sorted(((r.grp, r.v) for r in a.collect()), key=str)
    kb = sorted(((r.grp, r.v) for r in b.collect()), key=str)
    assert ka == kb
    # all-NULL group rows survive with NULL values under both
    assert sum(1 for g, v in ka if g == "only_nulls") == 4
    assert all(v is None for g, v in ka if g == "only_nulls")
