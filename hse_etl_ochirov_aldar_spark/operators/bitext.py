"""Margin-based bitext mining (Artetxe & Schwenk 2019, the LASER /
CCMatrix parallel-corpus miner): align sentences across two language
sides by RATIO MARGIN — a candidate pair scores by how much its cosine
exceeds the average cosine of each side's k nearest neighbors, which
suppresses hub vectors that are "close to everything" and would drown
absolute-cosine thresholds.

All scoring is exact integer arithmetic so the operator carries a full
DuckDB value-hash oracle: cosines snap to BIGINT micro-units (the
round-6 cross-engine contract similarity.py's oracles already prove),
k-NN sums/counts are BIGINT, and the margin is one integer division in
basis points:

    margin_bp = (2 * cos6u * 10000 * cnt_a * cnt_b)
                div (sum_a * cnt_b + sum_b * cnt_a)

(the exact-rational form of cos / ((avg_a + avg_b) / 2); NULL — and
dropped — when the denominator is not positive, which only happens
when a side's entire neighborhood has negative cosine).

Scale shape (100 TB): the smaller side broadcasts and the larger side
streams once through the scoring join (brute-force candidates — the
recall-exact baseline); at corpus scale swap the candidate stage for
the quantizer-cell multi-probe join (similarity.assign_cells), exactly
like the ANN family — margins are then computed over the probed
candidate set, the standard CCMatrix approximation. Ranking/sums are
two keyed window shuffles over the candidate relation (a_id, b_id
keys), never over the raw corpus.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ._plan import spread_small_input
from .similarity import _dot, _norm


def margin_bitext_mine(
    side_a: DataFrame,
    side_b: DataFrame,
    k: int = 4,
    margin_bp: int = 10500,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Mutual-top-1 pairs across the two sides whose ratio margin is at
    least ``margin_bp`` basis points (10000 = margin 1.0). Returns
    (a_id, b_id, cos6u, margin_bp) sorted by a_id.

    Determinism: ranking breaks cosine ties on the partner id; every
    aggregate is BIGINT; the margin is a single integer division — any
    engine recomputes identical pairs.
    """
    if k <= 0:
        raise ValueError("k must be positive")
    # per-side norms computed ONCE per row (the join is a projection
    # barrier, so CollapseProject cannot re-inline the fold into the
    # per-pair expression — cosine_dup_ids' trick); each of the |A|x|B|
    # pairs then pays a single dot instead of three array folds
    a = side_a.select(
        F.col(id_col).alias("a_id"),
        F.col(vec_col).alias("a_vec"),
        _norm(F.col(vec_col)).alias("__na"),
    )
    b = side_b.select(
        F.col(id_col).alias("b_id"),
        F.col(vec_col).alias("b_vec"),
        _norm(F.col(vec_col)).alias("__nb"),
    )
    cos6u = F.round(
        _dot(F.col("a_vec"), F.col("b_vec"))
        / (F.col("__na") * F.col("__nb"))
        * F.lit(1e6),
        0,
    ).cast("long")
    scored = (
        spread_small_input(a)
        .crossJoin(F.broadcast(b))
        .select("a_id", "b_id", cos6u.alias("cos6u"))
    )
    return _margin_pairs(scored, k, margin_bp)


def _margin_pairs(scored: DataFrame, k: int, margin_bp: int) -> DataFrame:
    """Shared margin pipeline over a (a_id, b_id, cos6u) candidate
    relation: two keyed window shuffles (ranks + k-NN sums), one exact
    integer division, mutual-top-1 + threshold gate."""
    w_a = Window.partitionBy("a_id").orderBy(F.desc("cos6u"), F.asc("b_id"))
    w_b = Window.partitionBy("b_id").orderBy(F.desc("cos6u"), F.asc("a_id"))
    ranked = scored.withColumn("rank_a", F.row_number().over(w_a)).withColumn(
        "rank_b", F.row_number().over(w_b)
    )
    p_a = Window.partitionBy("a_id")
    p_b = Window.partitionBy("b_id")
    in_ka = F.col("rank_a") <= k
    in_kb = F.col("rank_b") <= k
    enriched = (
        ranked.withColumn("sum_a", F.sum(F.when(in_ka, F.col("cos6u"))).over(p_a))
        .withColumn("cnt_a", F.sum(F.when(in_ka, 1).otherwise(0)).over(p_a))
        .withColumn("sum_b", F.sum(F.when(in_kb, F.col("cos6u"))).over(p_b))
        .withColumn("cnt_b", F.sum(F.when(in_kb, 1).otherwise(0)).over(p_b))
    )
    # exact integer division (Spark `div`) — numerator bounded by
    # 2 * 1e6 * 1e4 * k^2, far inside BIGINT for any sane k
    den = F.col("sum_a") * F.col("cnt_b") + F.col("sum_b") * F.col("cnt_a")
    margin = F.when(
        den > 0,
        F.expr(
            "CAST((2 * cos6u * 10000 * cnt_a * cnt_b) div "
            "(sum_a * cnt_b + sum_b * cnt_a) AS BIGINT)"
        ),
    )
    return (
        enriched.withColumn("margin_bp", margin)
        .where(
            (F.col("rank_a") == 1)
            & (F.col("rank_b") == 1)
            & F.col("margin_bp").isNotNull()
            & (F.col("margin_bp") >= margin_bp)
        )
        .select("a_id", "b_id", "cos6u", "margin_bp")
        .orderBy("a_id")
    )
