"""TPC-H-class analytic shapes re-hosted on the testdata (Q1-Q21
derivatives), all money math in exact integer units.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.cleaning import month_of
from ..functions.exact import (
    as_value,
    avg_units_expr,
    oracle_avg_units,
    oracle_avg_value,
    oracle_sum_value,
    oracle_units,
    oracle_units_sum,
    units,
    units_sum,
)
from ..functions.text import (
    BPE_TOKEN_REGEX,
    STOPWORDS,
    bpe_token_count,
    char_fingerprint,
    predicted_lang,
    stopword_count,
    token_count,
    whitespace_tokens,
)
from ..operators.aggregates import conditional_count, daily_avg, mode_by_group
from ..operators.dedup import dedup_keep_first
from ..operators.percentile import percentile_trim
from ..operators.similarity import brute_force_topk, ivf_topk
from ..operators.text_dedup import (
    exact_dedup,
    minhash_dedup,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
    segment_boilerplate_removal,
    simhash_near_pairs,
)
from ..operators.topk import topk_extremes
from ..sources.readers import load_table

from ._base import (  # noqa: F401  (shared helpers re-used across modules)
    _DECONTAM_CLEAN_PROMPTS,
    _EVENT_KINDS,
    _ORACLE_DAILY_SELECT,
    _SHINGLE8,
    _ORACLE_EVENTS_BASE,
    _docs_with_near_dups,
    _events_base,
    _kmeans_label_ctes,
    _oracle_hash32,
    embeddings_centroids,
)

# ---------------------------------------------------------------------------
# TPC-H-class analytic shapes (Q3/Q4/Q10/Q18 re-hosted on the testdata).
# The reference's mart layer (final-module-3/airflow/dags/
# build_analytical_marts.py:17-100) is the same join+aggregate+rank
# pattern at coursework scale; these four queries prove the classic
# warehouse shapes the engine must sustain at 100 TB: dim-filtered
# fact join with top-k, EXISTS semi-join, quarter report with
# broadcast dims, and a HAVING-subquery self-join on the fact table.
# All money math is exact integer cents (functions/exact.py).
# ---------------------------------------------------------------------------

_Q3_CUTOFF = "1998-06-01"


def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 highest-revenue orders not yet fully
    shipped at the cutoff, for one market segment.

    Plan: the segment filter reduces customer to ~1/5 and only the key
    column survives pruning, so it broadcasts into a LEFT SEMI against
    the date-filtered orders (no customer payload carried through the
    join). The orders-lineitem join hash-shuffles on orderkey; both
    date filters are pushed into the parquet scans. Top-10 runs as
    TakeOrderedAndProject (per-partition heap, no global sort) with a
    unique-key tie-break so LIMIT is deterministic."""
    cutoff = F.lit(_Q3_CUTOFF).cast("timestamp")
    bld = (
        load_table(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    orders = load_table(spark, sf_dir, "orders").where(F.col("o_orderdate") < cutoff)
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate") > cutoff)
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    return (
        orders.join(F.broadcast(bld), orders.o_custkey == bld.c_custkey, "left_semi")
        .join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.sum(rev4).alias("s_rev4"))
        .select(
            "l_orderkey",
            as_value("s_rev4", 4).alias("revenue"),
            "o_orderdate",
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


ORACLE_SHIPPING_PRIORITY = f"""
SELECT l_orderkey,
       CAST(sum({oracle_units('l_extendedprice')}
                * (100 - {oracle_units('l_discount')})) AS DOUBLE) / 10000.0
         AS revenue,
       o_orderdate, o_orderpriority
FROM customer
JOIN orders   ON c_custkey = o_custkey
JOIN lineitem ON o_orderkey = l_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '{_Q3_CUTOFF}'
  AND l_shipdate  > TIMESTAMP '{_Q3_CUTOFF}'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_order_priority_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: per-priority count of one quarter's orders with
    at least one line shipped >30 days after the order date.

    EXISTS compiles to a LEFT SEMI hash join on orderkey with the
    non-equi date predicate evaluated as the join's extra condition —
    lineitem is never aggregated or deduped first, and the semi join
    emits each qualifying order once regardless of how many late lines
    it has. At 100 TB both sides shuffle on orderkey; the quarter
    filter prunes the orders scan first."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    late = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate + F.expr("INTERVAL 30 DAYS")),
        "left_semi",
    )
    return (
        late.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


ORACLE_ORDER_PRIORITY_COUNT = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate <  TIMESTAMP '1997-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem
    WHERE l_orderkey = o.o_orderkey
      AND l_shipdate > o.o_orderdate + INTERVAL 30 DAY
  )
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q_returned_items_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: top-20 customers by revenue lost to returns in
    one quarter, with their nation.

    Plan: the quarter-filtered orders join lineitem('R') on orderkey
    (both filters pushed to the scans), then the per-customer rollup
    joins customer+nation. customer broadcasts at test scale; at
    100 TB customer is a fact-sized table, so the aggregate-first
    ordering matters — revenue is grouped to one row per customer
    BEFORE touching the customer table, and the final join carries
    only those grouped rows into the shuffle."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    customer = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    per_cust = (
        orders.join(li, F.col("o_orderkey") == li.l_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum(rev4).alias("s_rev4"))
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select(
            "c_custkey",
            "c_name",
            as_value("s_rev4", 4).alias("revenue"),
            "n_name",
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


ORACLE_RETURNED_ITEMS_REPORT = f"""
WITH per_cust AS (
  SELECT o_custkey,
         sum({oracle_units('l_extendedprice')}
             * (100 - {oracle_units('l_discount')})) AS s_rev4
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate >= TIMESTAMP '1997-01-01'
    AND o_orderdate <  TIMESTAMP '1997-04-01'
    AND l_returnflag = 'R'
  GROUP BY o_custkey
)
SELECT c_custkey, c_name,
       CAST(s_rev4 AS DOUBLE) / 10000.0 AS revenue,
       n_name
FROM per_cust
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total line quantity exceeds 250,
    with the ordering customer.

    The HAVING subquery is a fact-table self-aggregation: lineitem
    rolls up to one BIGINT quantity per orderkey (map-side partials,
    one shuffle), the >250 filter collapses it to a handful of rows,
    and AQE turns the join back to orders into a broadcast at runtime
    because the build side is now tiny — no second fact-fact shuffle.
    The customer join carries only the surviving orders."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    customer = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(units("l_quantity", 0)).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        orders.join(big, orders.o_orderkey == big.l_orderkey)
        .join(customer, orders.o_custkey == customer.c_custkey)
        .select("c_custkey", "c_name", "o_orderkey", "o_orderdate", "total_qty")
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(100)
    )


ORACLE_LARGE_VOLUME_CUSTOMER = f"""
WITH big AS (
  SELECT l_orderkey,
         CAST(sum({oracle_units('l_quantity', 0)}) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum({oracle_units('l_quantity', 0)}) > 250
)
SELECT c_custkey, c_name, o_orderkey, o_orderdate, total_qty
FROM big
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
"""


def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: revenue a blanket discount-policy change would
    have forfeited — one year of shipments, discounts in [5%, 7%],
    small quantities; revenue = sum(extendedprice * discount).

    The canonical scan-dominated aggregate: every predicate pushes to
    the parquet scan (shipdate range + quantity + discount, the latter
    compared in exact cent units), the sum runs as map-side partials
    into a 1-row result, and no shuffle moves more than one partial
    per task. At 100 TB this is the query shape that proves pushdown:
    the scan should read 3 columns and skip every non-1997 row group."""
    li = load_table(spark, sf_dir, "lineitem")
    disc_u = units("l_discount")  # cents-scale: 0.05 -> 5
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & (F.col("l_quantity") < 24)
            & disc_u.between(5, 7)
        )
        .agg(F.sum(units("l_extendedprice") * disc_u).alias("s_rev4"))
        .select(as_value("s_rev4", 4).alias("revenue"))
    )


ORACLE_FORECAST_REVENUE_CHANGE = f"""
SELECT CAST(sum({oracle_units('l_extendedprice')}
             * {oracle_units('l_discount')}) AS DOUBLE) / 10000.0 AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_quantity < 24
  AND {oracle_units('l_discount')} BETWEEN 5 AND 7
"""


def q_nation_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: shipping volume between two trading nations, by
    (supplier nation, customer nation, ship year) — both directions.

    Plan: the two nation filters prune supplier and customer BEFORE
    any fact join (each keeps ~1/25 of rows and only the key + name
    survive projection), so they broadcast into lineitem and orders
    respectively; the only fact-fact shuffle is lineitem⋈orders on
    orderkey. The cross-nation disjunction evaluates post-join on two
    tiny dimension columns. Revenue in exact 10^-4 units."""
    nation = load_table(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "supp_nation")
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("cust_nation"))),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey", "cust_nation")
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1999-01-01").cast("timestamp"))
    )
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .where(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(rev4).alias("s_rev4"))
        .select(
            "supp_nation",
            "cust_nation",
            "l_year",
            as_value("s_rev4", 4).alias("revenue"),
        )
        .orderBy("supp_nation", "cust_nation", "l_year")
    )


ORACLE_NATION_VOLUME_SHIPPING = f"""
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS BIGINT) AS l_year,
       CAST(sum({oracle_units('l_extendedprice')}
                * (100 - {oracle_units('l_discount')})) AS DOUBLE) / 10000.0
         AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders   ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = s_nationkey
JOIN nation n2 ON n2.n_nationkey = c_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2')
  AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
  AND l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1999-01-01'
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""


def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by how many
    non-urgent orders they placed (how many customers have 0 orders,
    1 order, ...). The left outer join keeps order-less customers as
    count 0 — the classic histogram-of-a-histogram double aggregate.

    Plan: orders pre-aggregates to one BIGINT per customer (map-side
    partials) before joining customer, so the outer join build side is
    group-sized; the second groupBy is distribution-sized (≤ max order
    count) and collapses to almost nothing. No row ever carries more
    than two BIGINTs through a shuffle."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderpriority") != "1-URGENT")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("c_count"))
    )
    return (
        cust.join(per_cust, cust.c_custkey == per_cust.o_custkey, "left")
        .select(F.coalesce(F.col("c_count"), F.lit(0)).alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


ORACLE_CUSTOMER_ORDER_DISTRIBUTION = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON o_custkey = c_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


def q_promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: share of one month's discounted revenue from
    PROMO-type parts, in exact basis points (BIGINT 10000·promo div
    total — the integer-division contract makes the percentage
    engine-exact, where the spec's 100.0·x/y double ratio would hash
    on summation order).

    Plan: the month filter prunes lineitem at the scan; part carries
    only (key, is-promo) through projection and broadcasts; one
    map-side-partial aggregate produces both sums in a single pass
    (conditional sum, no second scan)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.sum(F.when(F.col("is_promo"), rev4).otherwise(F.lit(0))).alias(
                "s_promo4"
            ),
            F.sum(rev4).alias("s_total4"),
        )
        .select(
            F.expr("CAST(s_promo4 * 10000 div s_total4 AS BIGINT)").alias(
                "promo_share_bp"
            ),
            as_value("s_promo4", 4).alias("promo_revenue"),
            as_value("s_total4", 4).alias("total_revenue"),
        )
    )


ORACLE_PROMO_REVENUE_SHARE = f"""
WITH s AS (
  SELECT sum(CASE WHEN p_type LIKE 'PROMO%'
                  THEN {oracle_units('l_extendedprice')}
                       * (100 - {oracle_units('l_discount')})
                  ELSE 0 END) AS s_promo4,
         sum({oracle_units('l_extendedprice')}
             * (100 - {oracle_units('l_discount')})) AS s_total4
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE l_shipdate >= TIMESTAMP '1997-09-01'
    AND l_shipdate <  TIMESTAMP '1997-10-01'
)
SELECT CAST(s_promo4 * 10000 // s_total4 AS BIGINT) AS promo_share_bp,
       CAST(s_promo4 AS DOUBLE) / 10000.0 AS promo_revenue,
       CAST(s_total4 AS DOUBLE) / 10000.0 AS total_revenue
FROM s
"""


def q_small_qty_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: revenue locked up in small special orders —
    lines of one brand's parts whose quantity is below 20% of that
    part's average ordered quantity; reports the 7-year average.

    The correlated scalar subquery (per-part avg) becomes a fact
    self-aggregation joined back: lineitem rolls up to (part, sum_qty,
    cnt) — brand-filtered FIRST, so only ~1/25 of parts aggregate —
    and the threshold compare is the exact integer cross-product
    5·qty·cnt < sum_qty (no division, engine-exact). avg_yearly is one
    IEEE double division of the exact unit sum — deterministic both
    engines."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_brand") == "Brand#13")
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").join(
        F.broadcast(part), F.col("l_partkey") == F.col("p_partkey")
    )
    qty_u = units("l_quantity", 0)
    per_part = li.groupBy(F.col("l_partkey").alias("agg_partkey")).agg(
        F.sum(qty_u).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(per_part, F.col("l_partkey") == F.col("agg_partkey"))
        .where(qty_u * 5 * F.col("cnt") < F.col("sum_qty"))
        .agg(units_sum("l_extendedprice").alias("s_price2"))
        .select(
            (F.col("s_price2").cast("double") / F.lit(100.0) / F.lit(7.0)).alias(
                "avg_yearly"
            ),
            F.coalesce(F.col("s_price2"), F.lit(0)).alias("total_price2"),
        )
    )


ORACLE_SMALL_QTY_ORDER_REVENUE = f"""
WITH brand AS (
  SELECT l_partkey, {oracle_units('l_quantity', 0)} AS qty_u,
         {oracle_units('l_extendedprice')} AS price2
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_brand = 'Brand#13'
),
per_part AS (
  SELECT l_partkey, CAST(sum(qty_u) AS BIGINT) AS sum_qty,
         count(*) AS cnt
  FROM brand GROUP BY l_partkey
)
SELECT CAST(CAST(sum(price2) AS BIGINT) AS DOUBLE) / 100.0 / 7.0
         AS avg_yearly,
       coalesce(CAST(sum(price2) AS BIGINT), 0) AS total_price2
FROM brand JOIN per_part USING (l_partkey)
WHERE qty_u * 5 * cnt < sum_qty
"""


def q_disjunctive_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: discounted revenue from three disjoint
    (brand, size-range, quantity-range) order profiles — the
    disjunctive-predicate query (adapted to this schema's part
    columns: no container/shipmode).

    Plan: the three OR branches share the part join key, so the join
    runs ONCE (broadcast part carrying only brand+size) and the
    disjunction evaluates as a single post-join filter — not three
    unioned scans. Discount bounds compare in exact cent units."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size"
    )
    li = load_table(spark, sf_dir, "lineitem")
    qty = F.col("l_quantity")
    branch = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 5)
            & qty.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 10)
            & qty.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 15)
            & qty.between(20, 30)
        )
    )
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    return (
        li.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .where(branch)
        .agg(F.sum(rev4).alias("s_rev4"))
        .select(
            as_value(F.coalesce(F.col("s_rev4"), F.lit(0)), 4).alias("revenue"),
            F.coalesce(F.col("s_rev4"), F.lit(0)).alias("revenue4"),
        )
    )


ORACLE_DISJUNCTIVE_DISCOUNTED_REVENUE = f"""
SELECT CAST(coalesce(CAST(sum({oracle_units('l_extendedprice')}
                * (100 - {oracle_units('l_discount')})) AS BIGINT), 0)
            AS DOUBLE) / 10000.0 AS revenue,
       coalesce(CAST(sum({oracle_units('l_extendedprice')}
                * (100 - {oracle_units('l_discount')})) AS BIGINT), 0)
         AS revenue4
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 5
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 10
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 20 AND 30)
"""


def q_idle_customer_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: per-nation count and total balance of
    better-than-average customers who never ordered (adapted: nation
    key stands in for the spec's phone country code).

    Plan: the global positive-balance average is a 1-row aggregate
    broadcast as a scalar threshold — compared in exact integer
    cross-product form (bal·cnt > sum, no division); "idle" = no order
    since the cutoff, a NOT EXISTS that plans as a LEFT ANTI join
    against the DISTINCT custkeys of date-filtered orders (filter
    pushed to the scan, key-only projection). At 100 TB the anti join
    shuffles only keys; the nation rollup is dimension-sized."""
    nations = ["NATION_3", "NATION_5", "NATION_7", "NATION_11", "NATION_13"]
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name").isin(nations))
    cust = load_table(spark, sf_dir, "customer").join(
        F.broadcast(nation.select("n_nationkey", "n_name")),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    bal_u = units("c_acctbal")
    avg_pos = cust.where(F.col("c_acctbal") > 0).agg(
        F.sum(bal_u).alias("sum_bal"), F.count(F.lit(1)).alias("cnt_bal")
    )
    okeys = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    return (
        cust.crossJoin(F.broadcast(avg_pos))
        .where(bal_u * F.col("cnt_bal") > F.col("sum_bal"))
        .join(okeys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum(bal_u).alias("s_bal2"),
        )
        .select(
            "n_name",
            "numcust",
            as_value("s_bal2").alias("totacctbal"),
        )
        .orderBy("n_name")
    )


ORACLE_IDLE_CUSTOMER_BALANCE = f"""
WITH cust AS (
  SELECT c_custkey, n_name, {oracle_units('c_acctbal')} AS bal_u
  FROM customer JOIN nation ON n_nationkey = c_nationkey
  WHERE n_name IN ('NATION_3', 'NATION_5', 'NATION_7', 'NATION_11',
                   'NATION_13')
),
thr AS (
  SELECT CAST(sum(bal_u) AS BIGINT) AS sum_bal, count(*) AS cnt_bal
  FROM cust WHERE bal_u > 0
)
SELECT n_name, count(*) AS numcust,
       CAST(CAST(sum(bal_u) AS BIGINT) AS DOUBLE) / 100.0 AS totacctbal
FROM cust, thr
WHERE bal_u * cnt_bal > sum_bal
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                  AND o_orderdate >= TIMESTAMP '2000-01-01')
GROUP BY n_name
ORDER BY n_name
"""


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small STANDARD part, the European
    supplier(s) with the minimum account balance (the schema has no
    partsupp/ps_supplycost, so the part-supplier relation is derived
    from DISTINCT (l_partkey, l_suppkey) and s_acctbal stands in for
    supply cost — the correlated-MIN-per-part shape is what matters).

    Plan: the correlated subquery becomes a window MIN over p_partkey —
    ONE shuffle of the already part-filtered candidate relation instead
    of the aggregate-plus-self-join's two. Part (type+size filtered,
    3 columns) and region-restricted supplier (~1/5 of a tiny dim) both
    broadcast; the distinct on (partkey, suppkey) is the only fact-sized
    shuffle and carries two BIGINTs per row. Balance compares in exact
    cents."""
    part = (
        load_table(spark, sf_dir, "part")
        .where((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 10))
        .select("p_partkey", "p_name", "p_size")
    )
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 3)
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    bal_u = units("s_acctbal")
    cand = (
        ps.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .withColumn("bal_u", bal_u)
        .withColumn(
            "min_bal", F.min("bal_u").over(Window.partitionBy("p_partkey"))
        )
    )
    return (
        cand.where(F.col("bal_u") == F.col("min_bal"))
        .select(
            as_value("bal_u").alias("s_acctbal"),
            "s_name",
            "n_name",
            "p_partkey",
            "p_name",
        )
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
    )


ORACLE_MIN_COST_SUPPLIER = f"""
WITH cand AS (
  SELECT p_partkey, p_name, s_name, n_name,
         {oracle_units('s_acctbal')} AS bal_u,
         min({oracle_units('s_acctbal')})
           OVER (PARTITION BY p_partkey) AS min_bal
  FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE p_type = 'STANDARD' AND p_size <= 10 AND n_regionkey = 3
)
SELECT CAST(bal_u AS DOUBLE) / 100.0 AS s_acctbal, s_name, n_name,
       p_partkey, p_name
FROM cand WHERE bal_u = min_bal
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
"""


def q_national_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_5's share of ECONOMY-part revenue sold
    into ASIA, per order year 1995-1996. Share in exact basis points
    (BIGINT integer division) so the ratio is engine-exact where the
    spec's double division would hash on summation order.

    Plan: part (type filter), supplier⋈nation (share flag only) and
    customer⋈nation⋈region (market restriction) all shrink to key+flag
    and broadcast; lineitem⋈orders on orderkey is the single fact-fact
    shuffle. Both the numerator and denominator come out of ONE
    map-side-partial conditional aggregate per year — no second scan."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_type") == "ECONOMY")
        .select("p_partkey")
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", (F.col("n_name") == "NATION_5").alias("is_target"))
    )
    cust = (
        load_table(spark, sf_dir, "customer")
        .join(
            F.broadcast(nation.where(F.col("n_regionkey") == 2).select("n_nationkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(
            (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").cast("long").alias("o_year"))
    )
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    return (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_year")
        .agg(
            F.sum(F.when(F.col("is_target"), rev4).otherwise(F.lit(0))).alias(
                "s_nation4"
            ),
            F.sum(rev4).alias("s_total4"),
        )
        .select(
            "o_year",
            F.expr("CAST(s_nation4 * 10000 div s_total4 AS BIGINT)").alias(
                "mkt_share_bp"
            ),
            as_value("s_nation4", 4).alias("nation_revenue"),
            as_value("s_total4", 4).alias("total_revenue"),
        )
        .orderBy("o_year")
    )


ORACLE_NATIONAL_MARKET_SHARE = f"""
WITH base AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         {oracle_units('l_extendedprice')}
           * (100 - {oracle_units('l_discount')}) AS rev4,
         (n1.n_name = 'NATION_5') AS is_target
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation n1 ON n1.n_nationkey = s_nationkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n2 ON n2.n_nationkey = c_nationkey
  WHERE p_type = 'ECONOMY' AND n2.n_regionkey = 2
    AND o_orderdate >= TIMESTAMP '1995-01-01'
    AND o_orderdate <  TIMESTAMP '1997-01-01'
)
SELECT o_year,
       CAST(sum(CASE WHEN is_target THEN rev4 ELSE 0 END) * 10000
            // sum(rev4) AS BIGINT) AS mkt_share_bp,
       CAST(sum(CASE WHEN is_target THEN rev4 ELSE 0 END) AS DOUBLE)
         / 10000.0 AS nation_revenue,
       CAST(sum(rev4) AS DOUBLE) / 10000.0 AS total_revenue
FROM base GROUP BY o_year ORDER BY o_year
"""


def q_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on widget-class parts by supplier nation
    and order year (no partsupp in this schema, so p_retailprice stands
    in for ps_supplycost: profit = disc_price − retailprice·qty, exact
    1e-4 units — negatives are meaningful and kept).

    Plan: the p_name LIKE filter prunes part to ~1/6 before broadcast
    (key + cost only); supplier⋈nation broadcasts as key → nation;
    lineitem⋈orders on orderkey is the only fact-fact shuffle, and the
    (nation, year) rollup is dimension×year-sized with map-side
    partials. All arithmetic stays in BIGINT units through the sum."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("%widget%"))
        .select("p_partkey", units("p_retailprice").alias("cost_u"))
    )
    nation = load_table(spark, sf_dir, "nation")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey", "n_name")
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    profit4 = units("l_extendedprice") * (100 - units("l_discount")) - F.col(
        "cost_u"
    ) * units("l_quantity", 0) * F.lit(100)
    return (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("n_name", "o_year")
        .agg(F.sum(profit4).alias("s_profit4"))
        .select("n_name", "o_year", as_value("s_profit4", 4).alias("sum_profit"))
        .orderBy("n_name", F.desc("o_year"))
    )


ORACLE_PRODUCT_TYPE_PROFIT = f"""
SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(sum({oracle_units('l_extendedprice')}
                * (100 - {oracle_units('l_discount')})
                - {oracle_units('p_retailprice')}
                  * {oracle_units('l_quantity', 0)} * 100) AS DOUBLE)
         / 10000.0 AS sum_profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
JOIN orders ON o_orderkey = l_orderkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2 ORDER BY n_name, o_year DESC
"""


def q_important_part_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose shipped value from NATION_3's
    suppliers exceeds 2× the mean part value — the HAVING-vs-global-
    scalar-subquery query. The spec's fixed 0.0001 fraction is replaced
    by a mean-relative threshold so the predicate scales with SF, and
    the compare is the exact integer cross-product val·n > 2·tot (no
    division).

    Plan: the nation filter shrinks supplier to ~4 keys that broadcast
    into the lineitem scan; the per-part rollup shuffles only (key,
    BIGINT); the global (tot, n) is a 1-row aggregate broadcast back
    via crossJoin — the same J1 scalar pattern as the percentile
    trim."""
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_3")
    supp = (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    # persist the part-sized rollup: the scalar (tot, n) branch would
    # otherwise re-derive it from a SECOND full lineitem scan (Catalyst
    # does not dedupe the two agg subtrees) — at 100 TB that doubles
    # the read; the cached relation is #parts rows of (key, BIGINT)
    per_part = (
        load_table(spark, sf_dir, "lineitem")
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy(F.col("l_partkey").alias("p_partkey"))
        .agg(units_sum("l_extendedprice").alias("val_u"))
        .persist()
    )
    totals = per_part.agg(
        F.sum("val_u").alias("tot_u"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        per_part.crossJoin(F.broadcast(totals))
        .where(F.col("val_u") * F.col("n_parts") > 2 * F.col("tot_u"))
        .select("p_partkey", as_value("val_u").alias("value"))
        .orderBy(F.desc("value"), "p_partkey")
    )


ORACLE_IMPORTANT_PART_VALUE = f"""
WITH v AS (
  SELECT l_partkey AS p_partkey,
         CAST({oracle_units_sum('l_extendedprice')} AS BIGINT) AS val_u
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name = 'NATION_3'
  GROUP BY 1
),
t AS (SELECT CAST(sum(val_u) AS BIGINT) AS tot_u, count(*) AS n_parts FROM v)
SELECT p_partkey, CAST(val_u AS DOUBLE) / 100.0 AS value
FROM v, t WHERE val_u * n_parts > 2 * tot_u
ORDER BY value DESC, p_partkey
"""


def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: among 1997 lineitems shipped ≥90 days after
    their order date, how many belonged to high- vs low-priority
    orders, per line status (the schema has no shipmode/commitdate/
    receiptdate; l_linestatus stands in for shipmode and
    shipdate-vs-orderdate lateness for the commit/receipt race).

    Plan: the ship-year filter pushes to the lineitem scan; orders
    carries only (key, priority) through projection; one shuffle on
    orderkey, then a 2-row conditional aggregate with map-side
    partials. The lateness predicate evaluates post-join on two
    columns already in hand."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .where(F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


ORACLE_LATE_SHIPMENT_PRIORITY = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate <  TIMESTAMP '1998-01-01'
  AND l_shipdate > o_orderdate + INTERVAL 90 DAY
GROUP BY l_linestatus ORDER BY l_linestatus
"""


def q_top_revenue_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) with the maximum revenue in
    1997Q3 — the create-view + WHERE total = (SELECT max(...)) query.
    The max compares in exact 1e-4 revenue units, so ties (and the
    equality itself) are engine-exact; all tied suppliers are returned,
    as in the spec.

    Plan: per-supplier rollup of the quarter-filtered scan shuffles
    (key, BIGINT) only; the global max is a 1-row aggregate broadcast
    back via crossJoin; the 100-row supplier dim broadcasts for the
    name lookup after the filter has reduced the left side to the
    winner(s)."""
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    # persist the supplier-sized rollup: the scalar max branch would
    # otherwise re-scan the quarter of facts a second time (Catalyst
    # does not dedupe the two agg subtrees); the cached relation is
    # #suppliers rows of (key, BIGINT)
    per_supp = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-07-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(rev4).alias("rev4"))
        .persist()
    )
    mx = per_supp.agg(F.max("rev4").alias("max_rev4"))
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        per_supp.crossJoin(F.broadcast(mx))
        .where(F.col("rev4") == F.col("max_rev4"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            as_value("rev4", 4).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


ORACLE_TOP_REVENUE_SUPPLIER = f"""
WITH per_supp AS (
  SELECT l_suppkey,
         CAST(sum({oracle_units('l_extendedprice')}
                  * (100 - {oracle_units('l_discount')})) AS BIGINT) AS rev4
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-07-01'
    AND l_shipdate <  TIMESTAMP '1997-10-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, CAST(rev4 AS DOUBLE) / 10000.0 AS total_revenue
FROM per_supp JOIN supplier ON s_suppkey = l_suppkey
WHERE rev4 = (SELECT max(rev4) FROM per_supp)
ORDER BY s_suppkey
"""


def q_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: how many distinct suppliers can provide each
    (brand, type, size) part class, excluding one brand, PROMO types,
    off-list sizes, and blacklisted suppliers (the schema has no
    s_comment, so negative account balance stands in for the
    'complaints' blacklist — at tiny SF the list can be empty, which
    still exercises the NOT-IN shape as a no-op anti join).

    Plan: the part-supplier relation is the DISTINCT (l_partkey,
    l_suppkey) projection — the only fact-sized shuffle, two BIGINTs
    per row. The filtered part dim broadcasts; the blacklist plans as
    a broadcast LEFT ANTI; count_distinct(suppkey) per class is a
    class-count-sized aggregate."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(
            (F.col("p_brand") != "Brand#13")
            & (~F.col("p_type").startswith("PROMO"))
            & (F.col("p_size").isin(1, 4, 9, 16, 25, 36, 49, 50))
        )
        .select("p_partkey", "p_brand", "p_type", "p_size")
    )
    blacklist = (
        load_table(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") < 0)
        .select("s_suppkey")
    )
    ps = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    return (
        ps.join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(blacklist),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", F.col("p_size").cast("long").alias("p_size"))
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_type", "p_size")
    )


ORACLE_SUPPLIER_PART_COUNTS = """
SELECT p_brand, p_type, CAST(p_size AS BIGINT) AS p_size,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
FROM (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem) ps
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#13'
  AND p_type NOT LIKE 'PROMO%'
  AND p_size IN (1, 4, 9, 16, 25, 36, 49, 50)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q_excess_volume_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: Asian suppliers who carried more than 20% of a
    small-class part's 1997 shipped volume — the nested semi-join-chain
    query (parts LIKE → per-(supplier, part) volume vs per-part total →
    suppliers in a region). No partsupp/availqty in this schema, so a
    supplier's own shipped quantity stands in for stock on hand and the
    threshold is the exact integer cross-product 5·q > total.

    Plan: the LIKE-filtered part dim broadcasts into the year-pruned
    scan; the (suppkey, partkey) rollup is the one fact-sized shuffle;
    the per-part total is a window SUM over the already-aggregated
    (small) relation — no second fact shuffle; the final step is a
    LEFT SEMI from the 100-row supplier dim against the flagged
    pairs."""
    part = (
        load_table(spark, sf_dir, "part")
        .where(F.col("p_name").like("small%"))
        .select("p_partkey")
    )
    sp = (
        load_table(spark, sf_dir, "lineitem")
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(F.broadcast(part), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(units("l_quantity", 0)).alias("q_u"))
        .withColumn(
            "tot_u", F.sum("q_u").over(Window.partitionBy("l_partkey"))
        )
    )
    flagged = (
        sp.where(F.col("q_u") * 5 > F.col("tot_u")).select("l_suppkey").distinct()
    )
    nation = load_table(spark, sf_dir, "nation").where(F.col("n_regionkey") == 2)
    return (
        load_table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(nation.select("n_nationkey")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(flagged, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name", as_value(units("s_acctbal")).alias("s_acctbal"))
        .orderBy("s_name")
    )


ORACLE_EXCESS_VOLUME_SUPPLIERS = f"""
WITH sp AS (
  SELECT l_suppkey, l_partkey,
         CAST(sum({oracle_units('l_quantity', 0)}) AS BIGINT) AS q_u
  FROM lineitem JOIN part ON p_partkey = l_partkey
  WHERE p_name LIKE 'small%'
    AND l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
),
w AS (
  SELECT l_suppkey, q_u,
         CAST(sum(q_u) OVER (PARTITION BY l_partkey) AS BIGINT) AS tot_u
  FROM sp
)
SELECT s_suppkey, s_name,
       CAST({oracle_units('s_acctbal')} AS DOUBLE) / 100.0 AS s_acctbal
FROM supplier JOIN nation ON n_nationkey = s_nationkey
WHERE n_regionkey = 2
  AND s_suppkey IN (SELECT l_suppkey FROM w WHERE q_u * 5 > tot_u)
ORDER BY s_name
"""


def q_waiting_orders_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the SOLE late supplier on
    finished multi-supplier orders (the EXISTS other-supplier /
    NOT EXISTS other-late-supplier pair). No commit/receipt dates in
    this schema, so late := shipped more than 120 days after the order
    date.

    Plan: the correlated EXISTS pair is rewritten as per-order
    aggregates — one shuffle on orderkey for the join + (orderkey,
    suppkey) lateness rollup, then a window over orderkey on the
    already-aggregated relation computes (supplier count, late count)
    without re-touching facts; blame is a row-local predicate and the
    final per-supplier count is 100-row-sized. Exactly the distributed
    rewrite the spec's nested subqueries demand at scale."""
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = (
        load_table(spark, sf_dir, "lineitem")
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(
                (
                    F.col("l_shipdate")
                    > F.col("o_orderdate") + F.expr("INTERVAL 120 DAYS")
                ).cast("long")
            ).alias("late")
        )
    )
    w = Window.partitionBy("l_orderkey")
    blamed = (
        li.withColumn("nsupp", F.count(F.lit(1)).over(w))
        .withColumn("nlate", F.sum("late").over(w))
        .where(
            (F.col("late") == 1) & (F.col("nsupp") >= 2) & (F.col("nlate") == 1)
        )
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        blamed.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_name", "numwait")
        .orderBy(F.desc("numwait"), "s_name")
    )


ORACLE_WAITING_ORDERS_BLAME = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         max(CASE WHEN l_shipdate > o_orderdate + INTERVAL 120 DAY
                  THEN 1 ELSE 0 END) AS late
  FROM lineitem JOIN orders ON o_orderkey = l_orderkey
  WHERE o_orderstatus = 'F'
  GROUP BY 1, 2
),
w AS (
  SELECT l_suppkey, late,
         count(*) OVER (PARTITION BY l_orderkey) AS nsupp,
         sum(late) OVER (PARTITION BY l_orderkey) AS nlate
  FROM li
)
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM w JOIN supplier ON s_suppkey = l_suppkey
WHERE late = 1 AND nsupp >= 2 AND nlate = 1
GROUP BY s_name
ORDER BY numwait DESC, s_name
"""


def q_fulfillment_lag_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment SLA readout: exact p50/p90/p99 of ship lag
    (days from order date to line ship date) per order priority — the
    warehouse latency dashboard. One orderkey join, one grouped exact
    percentile digest per priority (five groups; map-side partial
    value digests), lag in whole days so the interpolated percentiles
    are engine-exact doubles."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_orderdate"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    lag = F.datediff(
        F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
    ).cast("long")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .select(F.col("o_orderpriority").alias("priority"), lag.alias("lag_days"))
        .groupBy("priority")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.percentile(F.col("lag_days"), F.lit(0.5)).alias("p50_days"),
            F.percentile(F.col("lag_days"), F.lit(0.9)).alias("p90_days"),
            F.percentile(F.col("lag_days"), F.lit(0.99)).alias("p99_days"),
        )
        .orderBy("priority")
    )


ORACLE_FULFILLMENT_LAG_PERCENTILES = """
WITH l AS (
  SELECT o.o_orderpriority AS priority,
         CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE)) AS BIGINT) AS lag_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
)
SELECT priority, CAST(count(*) AS BIGINT) AS n_lines,
       percentile_cont(0.5) WITHIN GROUP (ORDER BY lag_days) AS p50_days,
       percentile_cont(0.9) WITHIN GROUP (ORDER BY lag_days) AS p90_days,
       percentile_cont(0.99) WITHIN GROUP (ORDER BY lag_days) AS p99_days
FROM l GROUP BY priority ORDER BY priority
"""
