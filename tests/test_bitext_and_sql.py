"""Margin-based bitext mining (operators/bitext.py) and the SQL view
facade (sources/views.py)."""

from __future__ import annotations

import pytest


def test_margin_mining_mutual_top1_and_hub_suppression(spark):
    """a1<->b1 and a2<->b2 are mutual best matches and get mined; the
    'hub' b3 (moderately close to BOTH a's) is nobody's mutual top-1
    and is excluded — the exact failure absolute-cosine thresholds
    have that ratio margin fixes."""
    from hse_etl_ochirov_aldar_spark.operators.bitext import (
        margin_bitext_mine,
    )

    a = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0])], ["vec_id", "embedding"]
    )
    b = spark.createDataFrame(
        [(11, [1.0, 0.01]), (12, [0.01, 1.0]), (13, [0.7, 0.7])],
        ["vec_id", "embedding"],
    )
    out = margin_bitext_mine(a, b, k=2, margin_bp=14000).collect()
    pairs = {(r.a_id, r.b_id) for r in out}
    assert pairs == {(1, 11), (2, 12)}
    for r in out:
        assert r.margin_bp >= 14000
        assert r.cos6u > 999_000  # near-parallel pairs

    with pytest.raises(ValueError, match="positive"):
        margin_bitext_mine(a, b, k=0)


def test_margin_mining_threshold_monotone(spark):
    """Raising the margin threshold can only shrink the mined set."""
    from hse_etl_ochirov_aldar_spark.operators.bitext import (
        margin_bitext_mine,
    )

    a = spark.createDataFrame(
        [(i, [float(i % 3 + 1), float(i % 5)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    b = spark.createDataFrame(
        [(100 + i, [float(i % 4 + 1), float(i % 7)]) for i in range(8)],
        ["vec_id", "embedding"],
    )
    loose = {(r.a_id, r.b_id) for r in margin_bitext_mine(a, b, k=3, margin_bp=0).collect()}
    tight = {(r.a_id, r.b_id) for r in margin_bitext_mine(a, b, k=3, margin_bp=10200).collect()}
    assert tight <= loose


def test_sql_facade_matches_dataframe(spark, sf_dir):
    """register_views + spark.sql must equal the DataFrame computation,
    and re-registering is idempotent (createOrReplaceTempView)."""
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table
    from hse_etl_ochirov_aldar_spark.sources.views import (
        register_views,
        sql_query,
    )

    df_side = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_orderstatus")
        .count()
        .orderBy("o_orderstatus")
        .collect()
    )
    sql_side = sql_query(
        spark,
        sf_dir,
        "SELECT o_orderstatus, count(*) AS count FROM orders "
        "GROUP BY o_orderstatus ORDER BY o_orderstatus",
    ).collect()
    assert [tuple(r) for r in sql_side] == [tuple(r) for r in df_side]
    register_views(spark, sf_dir)  # idempotent
    assert spark.sql("SELECT count(*) FROM nation").first()[0] == 25
