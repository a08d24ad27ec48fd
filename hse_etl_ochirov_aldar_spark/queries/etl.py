"""Flagship pricing/regional queries, the events clean layer, the
reference marts, JSON/XML normalization, text-dedup basics, and
training-data prep (SURVEY Q1-Q10 spine).
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
# Flagship: TPC-H Q1-style pricing summary (headline scan+agg benchmark).
# ---------------------------------------------------------------------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-scan multi-metric aggregation over lineitem (A1/A3 at scale).

    One shuffle carrying 4-ish grouped rows thanks to partial aggregation;
    the scan reads only the 8 referenced columns (column pruning). All
    money math runs in exact integer units (functions/exact.py) so the
    result is bit-identical to any oracle regardless of summation order.
    """
    li = load_table(spark, sf_dir, "lineitem")
    e2 = units("l_extendedprice")          # cents
    d_pct = 100 - units("l_discount")      # (1 - d) in 1e-2 units
    t_pct = 100 + units("l_tax")           # (1 + t) in 1e-2 units
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(units("l_quantity", 0)).alias("s_qty"),
            units_sum("l_extendedprice").alias("s_price"),
            F.sum(e2 * d_pct).alias("s_disc4"),
            F.sum(e2 * d_pct * t_pct).alias("s_charge6"),
            units_sum("l_discount").alias("s_disc2"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            as_value("s_qty", 0).alias("sum_qty"),
            as_value("s_price", 2).alias("sum_base_price"),
            as_value("s_disc4", 4).alias("sum_disc_price"),
            as_value("s_charge6", 6).alias("sum_charge"),
            avg_units_expr("s_qty", "count_order", 0, 2).alias("avg_qty"),
            avg_units_expr("s_price", "count_order", 2, 2).alias("avg_price"),
            avg_units_expr("s_disc2", "count_order", 2, 4).alias("avg_disc"),
            "count_order",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


ORACLE_PRICING_SUMMARY = f"""
WITH g AS (
  SELECT l_returnflag, l_linestatus,
         sum({oracle_units('l_quantity', 0)}) AS s_qty,
         {oracle_units_sum('l_extendedprice')} AS s_price,
         sum({oracle_units('l_extendedprice')} * (100 - {oracle_units('l_discount')})) AS s_disc4,
         sum({oracle_units('l_extendedprice')} * (100 - {oracle_units('l_discount')})
             * (100 + {oracle_units('l_tax')})) AS s_charge6,
         {oracle_units_sum('l_discount')} AS s_disc2,
         count(*) AS count_order
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1998-09-02'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(s_qty AS DOUBLE) / 1.0 AS sum_qty,
       CAST(s_price AS DOUBLE) / 100.0 AS sum_base_price,
       CAST(s_disc4 AS DOUBLE) / 10000.0 AS sum_disc_price,
       CAST(s_charge6 AS DOUBLE) / 1000000.0 AS sum_charge,
       {oracle_avg_units('s_qty', 'count_order', 0, 2)} AS avg_qty,
       {oracle_avg_units('s_price', 'count_order', 2, 2)} AS avg_price,
       {oracle_avg_units('s_disc2', 'count_order', 2, 4)} AS avg_disc,
       count_order
FROM g
ORDER BY l_returnflag, l_linestatus
"""

def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped 6-way join: revenue per nation for one year,
    local suppliers only (customer and supplier share a nation). The
    three dim tables broadcast; the two fact joins (orders-lineitem,
    lineitem-supplier) hash-shuffle; revenue in exact integer units.
    Exercises every testdata table the catalog hadn't touched yet."""
    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").where(
        F.year("o_orderdate") == 1996
    )
    li = load_table(spark, sf_dir, "lineitem")

    dims = F.broadcast(
        customer.join(
            nation, customer.c_nationkey == nation.n_nationkey
        ).join(region, nation.n_regionkey == region.r_regionkey)
    )
    rev4 = units("l_extendedprice") * (100 - units("l_discount"))
    joined = (
        orders.join(dims, orders.o_custkey == dims.c_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .join(F.broadcast(supplier), li.l_suppkey == supplier.s_suppkey)
        .where(F.col("s_nationkey") == F.col("c_nationkey"))
    )
    return (
        joined.groupBy("r_name", "n_name")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(rev4).alias("s_rev4"),
        )
        .select(
            "r_name",
            "n_name",
            "n_items",
            as_value("s_rev4", 4).alias("revenue"),
        )
    )


ORACLE_REGIONAL_REVENUE = f"""
SELECT r_name, n_name, count(*) AS n_items,
       CAST(sum({oracle_units('l_extendedprice')}
                * (100 - {oracle_units('l_discount')})) AS DOUBLE) / 10000.0
         AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
JOIN lineitem ON o_orderkey = l_orderkey
JOIN supplier ON l_suppkey = s_suppkey
WHERE year(o_orderdate) = 1996 AND s_nationkey = c_nationkey
GROUP BY r_name, n_name
"""


# ---------------------------------------------------------------------------
# Q1-Q4: the IoT pipeline re-hosted on `events` (FIXTURES.md §B).
# events.ts -> noted_date, events.value -> temp,
# lower(trim(event_type)) IN (...) -> the out_in='in' normalized filter.
# ---------------------------------------------------------------------------

def q_clean_percentile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q1: keep rows inside the global [p5, p95] value band
    (A2 exact percentile + J1 broadcast scalar cross join + P4)."""
    return percentile_trim(_events_base(spark, sf_dir), "value")


ORACLE_CLEAN_PERCENTILE_TRIM = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
p AS (SELECT quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi FROM base)
SELECT base.* FROM base CROSS JOIN p
WHERE value BETWEEN p.p_lo AND p.p_hi
"""


def q_clean_percentile_trim_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB escape hatch for Q1, made oracle-checkable (r5): the
    bounds come from ``approx_percentile`` (bounded-memory GK sketch,
    measured 7x faster than the exact sort-based percentile at 10M
    rows — PERF.md scale checks), but because the kept-row SET is
    sketch-dependent the entry no longer emits the rows; it emits a
    GUARANTEE AUDIT the oracle can reproduce. GK with ``accuracy=a``
    returns an element whose rank r satisfies |r - p*n| <= n/a (a hard,
    deterministic bound, not probabilistic), so the Spark side computes
    the sketch bounds, then in one exact pass checks each bound's true
    rank band and the kept-row fraction, emitting one row per metric:
    (metric STRING, n BIGINT exact base count, ok BOOLEAN). DuckDB
    emits the same exact ``n`` and literal ``true`` — if the sketch
    ever broke its bound, Spark's ``ok`` flips false and the driver's
    value-hash compare goes red. The trimmed rows themselves remain
    available via ``percentile_trim(..., approx=True)`` (library op,
    tolerance-tested in tests/test_queries_oracle.py)."""
    from ..operators.percentile import global_percentile_bounds

    accuracy = 10_000
    base = _events_base(spark, sf_dir)
    bounds = global_percentile_bounds(
        base, "value", approx=True, accuracy=accuracy
    )
    v = F.col("value")
    stats = base.crossJoin(F.broadcast(bounds)).agg(
        F.count(F.lit(1)).alias("n"),
        F.count_if(v < F.col("p_lo")).alias("n_lt_lo"),
        F.count_if(v <= F.col("p_lo")).alias("n_le_lo"),
        F.count_if(v < F.col("p_hi")).alias("n_lt_hi"),
        F.count_if(v <= F.col("p_hi")).alias("n_le_hi"),
        F.count_if(v.between(F.col("p_lo"), F.col("p_hi"))).alias("n_kept"),
    )
    # rank slack: the guaranteed n/accuracy rank error, +1 for the
    # open/closed rank-convention edge at exact ties
    slack = F.ceil(F.col("n") / accuracy) + 1

    def rank_ok(lt: str, le: str, p: float):
        target = F.col("n") * p
        return (F.col(lt) <= target + slack) & (F.col(le) >= target - slack)

    kept_ok = (F.col("n_kept") <= F.col("n")) & (
        F.col("n_kept") >= F.col("n") * 0.90 - 2 * slack
    )
    audited = stats.select(
        F.col("n"),
        F.inline(
            F.array(
                F.struct(
                    F.lit("kept_fraction").alias("metric"),
                    kept_ok.alias("ok"),
                ),
                F.struct(
                    F.lit("p05_rank").alias("metric"),
                    rank_ok("n_lt_lo", "n_le_lo", 0.05).alias("ok"),
                ),
                F.struct(
                    F.lit("p95_rank").alias("metric"),
                    rank_ok("n_lt_hi", "n_le_hi", 0.95).alias("ok"),
                ),
            )
        ),
    )
    return audited.select("metric", "n", "ok").orderBy("metric")


ORACLE_CLEAN_PERCENTILE_TRIM_APPROX = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
c AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base)
SELECT t.metric, c.n, true AS ok
FROM (VALUES ('kept_fraction'), ('p05_rank'), ('p95_rank')) t(metric)
CROSS JOIN c
ORDER BY t.metric
"""


def q_ngram_diversity_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL++ n-gram diversity, made oracle-checkable (r5): per source
    the EXACT totals and distinct counts (DuckDB-matched) plus boolean
    verdicts that the production ``approx_count_distinct`` (rsd=0.01)
    estimate lands within 5% of the exact count. The sketch runs for
    real — over the census rows, which hold exactly the distinct key
    set, so the HLL state is bit-identical to sketching the raw n-gram
    stream (operators/diversity.ngram_diversity_audit) — and the
    oracle emits literal ``true``, so a sketch drifting outside its
    documented error turns the driver row red instead of being
    unverifiable. The pure-approx report (no exact census at all, the
    actual 100 TB plan: 2M-doc check 51s -> 28s, within 1.7%) remains
    ``ngram_diversity_stats(approx=True)`` as a library op."""
    from ..operators.diversity import ngram_diversity_audit

    docs = load_table(spark, sf_dir, "documents")
    return ngram_diversity_audit(docs, "source", "text").orderBy("source")


ORACLE_NGRAM_DIVERSITY_APPROX = r"""
WITH tok AS (
  SELECT source,
         list_filter(string_split_regex(trim(lower(text)), '\s+'),
                     x -> x <> '') AS t
  FROM documents
),
uni AS (SELECT source, u.g FROM tok, unnest(t) AS u(g)),
bi AS (
  SELECT source, u.g
  FROM tok, unnest(list_transform(range(1, len(t)),
                                  i -> t[i] || ' ' || t[i + 1])) AS u(g)
),
tri AS (
  SELECT source, u.g
  FROM tok, unnest(list_transform(range(1, len(t) - 1),
                i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS u(g)
),
ua AS (SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
              CAST(count(DISTINCT g) AS BIGINT) AS distinct_unigrams
       FROM uni GROUP BY 1),
ba AS (SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
              CAST(count(DISTINCT g) AS BIGINT) AS distinct_bigrams
       FROM bi GROUP BY 1),
ta AS (SELECT source, CAST(count(*) AS BIGINT) AS n_trigrams,
              CAST(count(DISTINCT g) AS BIGINT) AS distinct_trigrams
       FROM tri GROUP BY 1)
SELECT ua.source, n_tokens, distinct_unigrams,
       coalesce(n_bigrams, 0) AS n_bigrams,
       coalesce(distinct_bigrams, 0) AS distinct_bigrams,
       coalesce(n_trigrams, 0) AS n_trigrams,
       coalesce(distinct_trigrams, 0) AS distinct_trigrams,
       true AS unigram_sketch_ok,
       true AS bigram_sketch_ok,
       true AS trigram_sketch_ok
FROM ua LEFT JOIN ba USING (source) LEFT JOIN ta USING (source)
ORDER BY ua.source
"""


def q_winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized per-type totals: clamp values into the global [p5,
    p95] band instead of dropping rows (percentile_trim's
    row-preserving twin, operators/percentile.py:percentile_clamp),
    then exact-unit sums per event type — every observation kept, the
    tails flattened. Clamped values equal the interpolated bound (the
    same double in both engines), so the cent-unit sums stay
    order-proof."""
    from ..operators.percentile import percentile_clamp

    base = _events_base(spark, sf_dir)
    w = percentile_clamp(base, "value")
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        as_value(units_sum("value")).alias("sum_value"),
    )


ORACLE_WINSORIZED_EVENT_STATS = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
p AS (SELECT quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi FROM base),
w AS (SELECT event_type,
             greatest(p.p_lo, least(p.p_hi, value)) AS value
      FROM base CROSS JOIN p)
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
         AS sum_value
FROM w GROUP BY event_type
"""


def q_grouped_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-GROUP winsorize (r10): each event type's values clamp into
    that type's own [p5, p95] band — grouped_percentile_trim's
    row-preserving twin (operators/percentile.grouped_percentile_clamp;
    LEFT bounds join so even an all-NULL group keeps its rows), then
    exact-unit sums per type. Every observation kept, each category's
    tails flattened against its own distribution instead of the global
    band (q_winsorized_event_stats)."""
    from ..operators.percentile import grouped_percentile_clamp

    base = _events_base(spark, sf_dir)
    w = grouped_percentile_clamp(base, "value", ["event_type"])
    return w.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        as_value(units_sum("value")).alias("sum_value"),
    )


ORACLE_GROUPED_WINSORIZED_STATS = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
p AS (SELECT event_type,
             quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi
      FROM base GROUP BY event_type),
w AS (SELECT base.event_type,
             greatest(p.p_lo, least(p.p_hi, value)) AS value
      FROM base JOIN p USING (event_type))
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS DOUBLE) / 100
         AS sum_value
FROM w GROUP BY event_type
"""


def q_daily_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q2: AVG by day over the trimmed clean layer (A1 + F4)."""
    return daily_avg(q_clean_percentile_trim(spark, sf_dir))



ORACLE_DAILY_AVG = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
p AS (SELECT quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi FROM base),
clean AS (SELECT base.* FROM base CROSS JOIN p
          WHERE value BETWEEN p.p_lo AND p.p_hi)
{_ORACLE_DAILY_SELECT}
"""


def q_topk_extremes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q3: top-5 hot + top-5 cold days, ranked, unioned
    (W1 + T1 + U2), in one pass over the daily aggregate."""
    return topk_extremes(q_daily_avg(spark, sf_dir))


ORACLE_TOPK_EXTREMES = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
p AS (SELECT quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi FROM base),
clean AS (SELECT base.* FROM base CROSS JOIN p
          WHERE value BETWEEN p.p_lo AND p.p_hi),
daily AS ({_ORACLE_DAILY_SELECT}),
hot AS (SELECT *, CAST(row_number() OVER (ORDER BY avg_value DESC, day ASC) AS INT) AS rank,
               'hot' AS kind
        FROM daily ORDER BY avg_value DESC, day ASC LIMIT 5),
cold AS (SELECT *, CAST(row_number() OVER (ORDER BY avg_value ASC, day ASC) AS INT) AS rank,
                'cold' AS kind
         FROM daily ORDER BY avg_value ASC, day ASC LIMIT 5)
SELECT * FROM hot UNION ALL SELECT * FROM cold
"""


def q_incremental_window_rebuild(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SURVEY Q4 (I2): rebuild only the last-7-days window, but with
    percentiles computed over ALL data so cleaning matches a full load
    (HW-4/airflow/dags/iot_temperature.py:109-113, 160-216).

    The cutoff is data-relative (max(day) - 7) rather than wall-clock so
    the query is deterministic (F12 testability note). It is collected
    to the driver (one tiny aggregate action, the reference computes
    its cutoff driver-side too, HW-4/...:114) and inlined as a LITERAL
    predicate: a cross-joined 1-row cutoff leaves `day >= cutoff` stuck
    above a nested-loop join, while the literal reaches the scan as a
    DataFilter and prunes partitions on a date-partitioned source (P8).
    """
    base = _events_base(spark, sf_dir)
    cutoff = base.agg(F.date_sub(F.max("day"), 7).alias("cutoff")).first()["cutoff"]
    windowed = base.where(F.col("day") >= F.lit(cutoff))
    trimmed = percentile_trim(windowed, "value", bounds_over=base)
    return daily_avg(trimmed)


ORACLE_INCREMENTAL_WINDOW_REBUILD = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
p AS (SELECT quantile_cont(value, 0.05) AS p_lo,
             quantile_cont(value, 0.95) AS p_hi FROM base),
cut AS (SELECT max(day) - 7 AS cutoff FROM base),
clean AS (SELECT base.* FROM base CROSS JOIN p CROSS JOIN cut
          WHERE day >= cutoff AND value BETWEEN p.p_lo AND p.p_hi)
{_ORACLE_DAILY_SELECT}
"""

# ---------------------------------------------------------------------------
# Q5: keyed dedup with deterministic keep-first (A6/S6/S9).
# Reference: Mongo $group/$first dedup, mongo_to_postgres_replication.py:35-39.
# ---------------------------------------------------------------------------


def q_grouped_percentile_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2 extension: per-event-type [p5, p95] bands instead of one
    global band — each category cleaned against its own distribution;
    per-type daily stats of the survivors."""
    from ..operators.percentile import grouped_percentile_trim

    base = _events_base(spark, sf_dir)
    trimmed = grouped_percentile_trim(base, "value", ["event_type"])
    return (
        trimmed.groupBy("event_type", "day")
        .agg(
            units_sum("value").alias("s_value"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .select(
            "event_type",
            "day",
            as_value("s_value", 2).alias("total_value"),
            "n_readings",
        )
    )


ORACLE_GROUPED_PERCENTILE_TRIM = f"""
WITH base AS ({_ORACLE_EVENTS_BASE}),
p AS (
  SELECT event_type,
         quantile_cont(value, 0.05) AS p_lo,
         quantile_cont(value, 0.95) AS p_hi
  FROM base GROUP BY event_type
),
clean AS (
  SELECT base.* FROM base JOIN p USING (event_type)
  WHERE value BETWEEN p.p_lo AND p.p_hi
)
SELECT event_type, day,
       {oracle_sum_value('value')} AS total_value,
       count(*) AS n_readings
FROM clean GROUP BY event_type, day
"""


def q_grouped_percentile_trim_ranked(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """grouped_percentile_trim's O(1)-task-state twin under driver
    checking: the per-group bounds come from the rank-based exact
    percentile (operators/percentile.py:grouped_percentile_bounds_ranked
    — range-partition by (group, value), census offsets, interpolate at
    ranks floor/ceil(p·(n−1))+1 with Spark's own symmetric formula)
    instead of the value-buffering ``percentile`` aggregate. Bit-
    identical bounds by construction, so the oracle is the SAME SQL as
    grouped_percentile_trim; what this entry adds is the driver
    value-hash proving the scale path end-to-end, not just in pytest.
    At 100 TB this is the variant to run when the value domain is
    continuous/unbounded: every task stays O(1) regardless of group
    size or distinct-value count (PERF.md finding 33: already 2.1×
    faster than the buffer aggregate at 10M rows × 1M distinct)."""
    from ..operators.percentile import grouped_percentile_trim

    base = _events_base(spark, sf_dir)
    trimmed = grouped_percentile_trim(
        base, "value", ["event_type"], strategy="rank"
    )
    return (
        trimmed.groupBy("event_type", "day")
        .agg(
            units_sum("value").alias("s_value"),
            F.count(F.lit(1)).alias("n_readings"),
        )
        .select(
            "event_type",
            "day",
            as_value("s_value", 2).alias("total_value"),
            "n_readings",
        )
    )


def q_dedup_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One event per (user_id, event_type), keeping the earliest event_id.

    The reference keeps an arbitrary doc; we rank by event_id for a
    deterministic, oracle-comparable keep-first (SURVEY §4 caution 3).
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.col("ts").cast("date").alias("day"), "value"
    )
    return dedup_keep_first(ev, ["user_id", "event_type"], ["event_id"])


ORACLE_DEDUP_BY_KEY = """
SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS day, value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY event_id) = 1
"""

# ---------------------------------------------------------------------------
# Q6/Q7: clean layers with derived columns + anomaly filters.
# sessions_clean <- orders + lineitem counts (duration/num_pages analogue,
# mongo_to_postgres_replication.py:218-237); tickets_clean <- lineitem-grain
# monotonicity + resolution duration (:254-269).
# ---------------------------------------------------------------------------


def q_sessions_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 projection + A8 counting + P3/P5-style anomaly filters.

    The lineitem aggregate is pre-shuffled on the join key, so the join
    with orders is a single co-partitioned shuffle; AQE converts it to
    broadcast when the aggregated side is small.
    """
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("num_items"),
        F.sum(units("l_quantity", 0)).cast("double").alias("total_qty"),
    )
    return (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey, "left")
        .select(
            "o_orderkey",
            "o_custkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            month_of("o_orderdate").alias("report_month"),
            F.col("o_totalprice").alias("total_price"),
            F.coalesce(F.col("num_items"), F.lit(0)).alias("num_items"),
            F.coalesce(F.col("total_qty"), F.lit(0.0)).alias("total_qty"),
        )
        .where(
            (F.col("total_price") > 0)
            & F.col("num_items").between(1, 7)
            & F.col("order_date").isNotNull()
        )
    )


ORACLE_SESSIONS_CLEAN = """
WITH per_order AS (
  SELECT l_orderkey, count(*) AS num_items,
         CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
)
SELECT o_orderkey, o_custkey,
       CAST(o_orderdate AS DATE) AS order_date,
       CAST(date_trunc('month', o_orderdate) AS DATE) AS report_month,
       o_totalprice AS total_price,
       coalesce(num_items, 0) AS num_items,
       coalesce(total_qty, 0.0) AS total_qty
FROM orders LEFT JOIN per_order ON o_orderkey = l_orderkey
WHERE o_totalprice > 0 AND coalesce(num_items, 0) BETWEEN 1 AND 7
  AND o_orderdate IS NOT NULL
"""


def q_tickets_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6 monotonicity + bounded-duration filters with F5-style
    derived resolution duration, at lineitem grain."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    res_days = F.datediff(F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date"))
    return (
        joined.select(
            "l_orderkey",
            "l_linenumber",
            F.col("o_orderpriority").alias("issue_type"),
            F.col("o_orderstatus").alias("status"),
            res_days.alias("resolution_days"),
        )
        .where((F.col("resolution_days") >= 0) & (F.col("resolution_days") < 365))
    )


ORACLE_TICKETS_CLEAN = """
SELECT l_orderkey, l_linenumber,
       o_orderpriority AS issue_type,
       o_orderstatus AS status,
       date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) AS resolution_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) >= 0
  AND date_diff('day', CAST(o_orderdate AS DATE), CAST(l_shipdate AS DATE)) < 365
"""

# ---------------------------------------------------------------------------
# Q8/Q9: analytical marts.
# Reference: build_analytical_marts.py:28-92 (user activity: multi-metric
# agg + 3 per-group modes via window rank + left joins) and :102-124
# (support efficiency: FILTER counts + min/avg/max).
# ---------------------------------------------------------------------------


def q_mart_user_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3 multi-metric agg + A7 mode-by-group (x2) + J2 composite-key
    left joins. The lineitem-side mode rides the orders->lineitem fan-out,
    the analogue of the reference's LATERAL UNNEST mode branches.

    Plan shape: ONE orders scan feeds a (custkey, month, priority)
    partial aggregate; the stats totals AND the priority mode then come
    off that partial in a second sort-free HashAggregate — the mode is
    ``min(struct(-cnt, value))``, whose struct ordering (cnt DESC then
    value ASC, lexicographic field-by-field) is exactly the window
    rank's tie-break, so no Window/Sort node appears anywhere. The
    lineitem mode branch gets the same two-level count + min-struct
    shape. Both replacements of row_number windows with partial-agg'd
    aggregates measured ~3x on the warm path (1.90s -> ~0.6s at sf0.1,
    PERF.md r6) because every Exchange now carries combiner-reduced
    rows and no stage sorts. Integer-units sums are associative so the
    two-level re-aggregation stays exact.
    """
    orders = load_table(spark, sf_dir, "orders").withColumn(
        "report_month", month_of("o_orderdate")
    )
    li = load_table(spark, sf_dir, "lineitem")

    prio_partial = orders.groupBy(
        "o_custkey", "report_month", "o_orderpriority"
    ).agg(
        F.count(F.lit(1)).alias("cnt"),
        units_sum("o_totalprice").alias("s_total"),
    )
    stats_with_mode = (
        prio_partial.groupBy("o_custkey", "report_month")
        .agg(
            F.sum("cnt").alias("num_orders"),
            F.sum("s_total").alias("_s_total"),
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("_neg_cnt"),
                    F.col("o_orderpriority").alias("v"),
                )
            ).alias("_mode"),
        )
        .select(
            "o_custkey",
            "report_month",
            "num_orders",
            as_value("_s_total").alias("sum_total"),
            avg_units_expr("_s_total", "num_orders", 2, 2).alias("avg_total"),
            F.col("_mode.v").alias("top_priority"),
        )
    )
    exploded = orders.join(li, orders.o_orderkey == li.l_orderkey).select(
        "o_custkey", "report_month", "l_returnflag"
    )
    top_flag = (
        exploded.groupBy("o_custkey", "report_month", "l_returnflag")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("o_custkey", "report_month")
        .agg(
            F.min(
                F.struct(
                    (-F.col("cnt")).alias("_neg_cnt"),
                    F.col("l_returnflag").alias("v"),
                )
            ).alias("_mode")
        )
        .select(
            "o_custkey", "report_month", F.col("_mode.v").alias("top_returnflag")
        )
    )
    return stats_with_mode.join(top_flag, ["o_custkey", "report_month"], "left")


ORACLE_MART_USER_ACTIVITY = f"""
WITH orders_m AS (
  SELECT *, CAST(date_trunc('month', o_orderdate) AS DATE) AS report_month FROM orders
),
stats AS (
  SELECT o_custkey, report_month,
         count(*) AS num_orders,
         {oracle_sum_value('o_totalprice')} AS sum_total,
         {oracle_avg_value('o_totalprice')} AS avg_total
  FROM orders_m GROUP BY o_custkey, report_month
),
prio_counts AS (
  SELECT o_custkey, report_month, o_orderpriority, count(*) AS cnt
  FROM orders_m GROUP BY o_custkey, report_month, o_orderpriority
),
top_prio AS (
  SELECT o_custkey, report_month, o_orderpriority AS top_priority
  FROM prio_counts
  QUALIFY row_number() OVER (PARTITION BY o_custkey, report_month
                             ORDER BY cnt DESC, o_orderpriority ASC) = 1
),
flag_counts AS (
  SELECT o_custkey, report_month, l_returnflag, count(*) AS cnt
  FROM orders_m JOIN lineitem ON o_orderkey = l_orderkey
  GROUP BY o_custkey, report_month, l_returnflag
),
top_flag AS (
  SELECT o_custkey, report_month, l_returnflag AS top_returnflag
  FROM flag_counts
  QUALIFY row_number() OVER (PARTITION BY o_custkey, report_month
                             ORDER BY cnt DESC, l_returnflag ASC) = 1
)
SELECT s.o_custkey, s.report_month, s.num_orders, s.sum_total, s.avg_total,
       p.top_priority, f.top_returnflag
FROM stats s
LEFT JOIN top_prio p USING (o_custkey, report_month)
LEFT JOIN top_flag f USING (o_custkey, report_month)
"""


def q_mart_support_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4 conditional counts (FILTER) + A5 min/avg/max + T3 sort."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.withColumn("report_month", month_of("o_orderdate"))
        .groupBy("report_month", F.col("o_orderpriority").alias("issue_type"))
        .agg(
            F.count(F.lit(1)).alias("n_total"),
            conditional_count(F.col("o_orderstatus") == "O").alias("n_open"),
            conditional_count(F.col("o_orderstatus") == "F").alias("n_done"),
            conditional_count(F.col("o_orderstatus") == "P").alias("n_partial"),
            F.min("o_totalprice").alias("min_price"),
            units_sum("o_totalprice").alias("_s_price"),
            F.max("o_totalprice").alias("max_price"),
        )
        .select(
            "report_month",
            "issue_type",
            "n_total",
            "n_open",
            "n_done",
            "n_partial",
            "min_price",
            avg_units_expr("_s_price", "n_total", 2, 2).alias("avg_price"),
            "max_price",
        )
        .orderBy("report_month", "issue_type")
    )


ORACLE_MART_SUPPORT_EFFICIENCY = f"""
SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS report_month,
       o_orderpriority AS issue_type,
       count(*) AS n_total,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_open,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_done,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_partial,
       min(o_totalprice) AS min_price,
       {oracle_avg_value('o_totalprice')} AS avg_price,
       max(o_totalprice) AS max_price
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""

# ---------------------------------------------------------------------------
# Q10a: semi-structured JSON extraction (S3/F9) over events.props.
# Reference: JSONB payload parse, sources_to_linear.py:28-33; nested field
# access mongo_to_postgres_replication.py:92-97.
# ---------------------------------------------------------------------------


def q_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema'd from_json (no inference, JVM-side) -> typed field -> agg."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.withColumn(
        "props_s", F.from_json(F.col("props"), "k INT")
    ).withColumn("k", F.col("props_s.k"))
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_k",
            avg_units_expr("sum_k", "n_events", 0, 2).alias("avg_k"),
            "max_k",
        )
    )


ORACLE_JSON_EXTRACT_AGG = f"""
SELECT event_type,
       count(*) AS n_events,
       CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT) AS sum_k,
       {oracle_avg_units("CAST(sum(CAST(props->>'$.k' AS INT)) AS BIGINT)", "count(*)", 0, 2)} AS avg_k,
       max(CAST(props->>'$.k' AS INT)) AS max_k
FROM events
GROUP BY event_type
"""

def q_variant_json_extract_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """json_extract_agg through Spark 4 VARIANT instead of a fixed
    from_json schema: ``try_parse_json`` builds the binary variant
    once, ``try_variant_get`` extracts typed paths — all JVM-side
    expressions (plan-checked: no Python).

    Why it earns a separate entry (measured, PERF.md finding 35, 10M
    rows × 5-key JSON): schema'd from_json is the fastest when the
    schema is known and stable (2.26s warm — ONE parse; codegen
    subexpression elimination covers the repeated struct refs, so the
    CollapseProject re-inline pitfall does NOT bite it); VARIANT costs
    ~1.4× that (3.27s) but needs NO up-front schema — drifting /
    heterogeneous props columns extract with per-path NULLs instead of
    a schema migration, and Spark 4 Parquet shreds the binary
    columnarized; per-field get_json_object is the real 100 TB trap
    (7.4s — one full parse PER field). Same aggregate contract as
    json_extract_agg — the two entries must stay value-identical
    (same oracle modulo alias), which pins variant path semantics to
    the schema'd parse."""
    ev = load_table(spark, sf_dir, "events")
    k = F.try_variant_get(F.try_parse_json(F.col("props")), "$.k", "int")
    parsed = ev.withColumn("k", k)
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").cast("long").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_k",
            avg_units_expr("sum_k", "n_events", 0, 2).alias("avg_k"),
            "max_k",
        )
    )


# ---------------------------------------------------------------------------
# Q10b/J3: lateral-unnest analogue — explode + per-group top-k words.
# Reference: LATERAL UNNEST(pages_visited), build_analytical_marts.py:57-58.
# ---------------------------------------------------------------------------


def q_explode_words_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3 explode -> A7-style rank: top-3 words per language.

    explode() is generator-based codegen, no Python; the window input is
    already aggregated (lang x word counts), never raw exploded rows.
    """
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        "lang", F.explode(F.split(F.col("text"), " ")).alias("word")
    ).where(F.col("word") != "")
    counts = words.groupBy("lang", "word").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.partitionBy("lang").orderBy(F.desc("cnt"), F.asc("word"))
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
    )


ORACLE_EXPLODE_WORDS_TOPK = """
WITH words AS (
  SELECT lang, unnest(string_split(text, ' ')) AS word FROM documents
),
counts AS (
  SELECT lang, word, count(*) AS cnt FROM words WHERE word <> ''
  GROUP BY lang, word
)
SELECT lang, word, cnt,
       CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word ASC) AS INT) AS rank
FROM counts
QUALIFY rank <= 3
"""

# ---------------------------------------------------------------------------
# North-star: LLM-data-pipeline operators over documents / embeddings
# (BASELINE.json north_star; beyond the reference's own surface).
# ---------------------------------------------------------------------------


def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact text dedup via md5 hash-groupBy, keep smallest doc_id."""
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs).select("doc_id", "lang", "source", "n_chars")


ORACLE_EXACT_DEDUP_DOCS = """
SELECT doc_id, lang, source, n_chars
FROM documents
QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                           ORDER BY doc_id) = 1
"""


def q_text_quality_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality profile: token counts, punctuation ratio,
    stopword ratio. Ratios are single divisions of exact BIGINT sums
    (numerator/denominator aggregated separately) — deterministic across
    engines without rounding tricks."""
    docs = load_table(spark, sf_dir, "documents")
    text = F.col("text")
    per_doc = docs.select(
        "lang",
        token_count(text).alias("n_tokens"),
        F.length(text).alias("n_chars_total"),
        F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", "")).alias("n_punct"),
        stopword_count(text, STOPWORDS["en"]).alias("n_stop"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            F.sum("n_chars_total").alias("total_chars"),
            F.sum("n_punct").alias("total_punct"),
            F.sum("n_stop").alias("total_stop"),
        )
        .select(
            "lang",
            "n_docs",
            "total_tokens",
            avg_units_expr("total_tokens", "n_docs", 0, 2).alias("avg_tokens"),
            F.round(F.col("total_punct") / F.col("total_chars"), 6).alias("punct_ratio"),
            F.round(F.col("total_stop") / F.col("total_tokens"), 6).alias("stopword_ratio"),
        )
    )


ORACLE_TEXT_QUALITY_STATS = f"""
WITH per_doc AS (
  SELECT lang,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
         length(text) AS n_chars_total,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         len(list_filter(string_split_regex(trim(text), '\\s+'),
             x -> list_contains({STOPWORDS['en']!r}, lower(x)))) AS n_stop
  FROM documents
),
g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         CAST(sum(n_chars_total) AS BIGINT) AS total_chars,
         CAST(sum(n_punct) AS BIGINT) AS total_punct,
         CAST(sum(n_stop) AS BIGINT) AS total_stop
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, total_tokens,
       {oracle_avg_units('total_tokens', 'n_docs', 0, 2)} AS avg_tokens,
       round(CAST(total_punct AS DOUBLE) / total_chars, 6) AS punct_ratio,
       round(CAST(total_stop AS DOUBLE) / total_tokens, 6) AS stopword_ratio
FROM g
"""


def q_token_count_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace + BPE-ish regex token counting per language (the
    token-budget estimator of a training-data pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        token_count(F.col("text")).alias("ws_tokens"),
        bpe_token_count(F.col("text")).alias("bpe_tokens"),
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").alias("total_ws_tokens"),
            F.sum("bpe_tokens").alias("total_bpe_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_ws_tokens",
            "total_bpe_tokens",
            avg_units_expr("total_bpe_tokens", "n_docs", 0, 2).alias("avg_bpe_tokens"),
        )
    )


ORACLE_TOKEN_COUNT_STATS = f"""
WITH per_doc AS (
  SELECT lang,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS ws_tokens,
         len(regexp_extract_all(text, '{BPE_TOKEN_REGEX}', 0)) AS bpe_tokens
  FROM documents
),
g AS (
  SELECT lang, count(*) AS n_docs,
         CAST(sum(ws_tokens) AS BIGINT) AS total_ws_tokens,
         CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens
  FROM per_doc GROUP BY lang
)
SELECT lang, n_docs, total_ws_tokens, total_bpe_tokens,
       {oracle_avg_units('total_bpe_tokens', 'n_docs', 0, 2)} AS avg_bpe_tokens
FROM g
"""


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic n-gram/stopword language ID -> confusion counts
    (true lang x predicted lang)."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", predicted_lang(F.col("text")).alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


_SW_VALUES = ", ".join(
    f"('{lang}', {words!r})".replace('"', "'") for lang, words in sorted(STOPWORDS.items())
)

ORACLE_LANG_ID_CONFUSION = f"""
WITH toks AS (
  SELECT doc_id, lang,
         list_transform(list_filter(string_split_regex(trim(text), '\\s+'),
                                    x -> x <> ''), x -> lower(x)) AS t
  FROM documents
),
scores AS (
  SELECT doc_id, lang, v.pl,
         len(list_filter(t, x -> list_contains(v.sw, x))) AS sc
  FROM toks, (VALUES {_SW_VALUES}) v(pl, sw)
),
best AS (
  SELECT doc_id, lang, CASE WHEN sc > 0 THEN pl ELSE 'und' END AS predicted
  FROM scores
  QUALIFY row_number() OVER (PARTITION BY doc_id ORDER BY sc DESC, pl ASC) = 1
)
SELECT lang, predicted, count(*) AS n FROM best GROUP BY lang, predicted
"""


def q_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash (base-31, prime-modulus) whole-document fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", char_fingerprint(F.col("text")).alias("fingerprint"))


ORACLE_DOC_FINGERPRINT = """
SELECT doc_id,
       list_reduce(
         list_prepend(CAST(0 AS BIGINT),
           list_transform(range(1, length(text) + 1),
                          i -> CAST(ascii(substr(text, CAST(i AS INT), 1)) AS BIGINT))),
         (acc, c) -> (acc * 31 + c) % 1000000007) AS fingerprint
FROM documents
"""

_WINNOW_K, _WINNOW_W, _WINNOW_P = 8, 4, 1_000_000_007


def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprints per document: k=8 char grams,
    window=4, base-31 polynomial — positional-robust document
    fingerprint sets, summarized as (count, min, max) per doc.

    RELATIONAL formulation: chars exploded with position, each gram
    hash is an 8-term lead() polynomial (exact in BIGINT, one mod at
    the end — same residue as the per-step-mod form the oracle runs),
    winnowing is a 4-row sliding window MIN. Everything whole-stage
    codegen; the array-expression form (slice+fold per gram) re-split
    the text per gram — O(n^2) interpreted, measured 250x slower.
    Short docs (< k chars) fingerprint as their whole-text hash.
    """
    from ..functions.text import char_fingerprint

    k, wsz, p = _WINNOW_K, _WINNOW_W, _WINNOW_P
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", F.length("text").alias("n")
    )
    long_docs = docs.where(F.col("n") >= k)
    chars = long_docs.select(
        "doc_id",
        "n",
        F.posexplode(F.split("text", "")).alias("pos", "ch"),
    ).withColumn("a", F.ascii("ch").cast("long"))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    gram_terms = [
        (F.lead("a", j).over(w_ord) if j else F.col("a")) * (31 ** (k - 1 - j))
        for j in range(k)
    ]
    gram_sum = gram_terms[0]
    for t in gram_terms[1:]:
        gram_sum = gram_sum + t
    grams = chars.withColumn("gram", gram_sum % p).where(
        F.col("pos") <= F.col("n") - k
    )
    # rowsBetween clips at the partition end, so docs with fewer than
    # `wsz` grams still get one (shorter) window at pos 0 — matching
    # the oracle's clipped slice.
    w_win = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, wsz - 1)
    winnowed = grams.withColumn("wmin", F.min("gram").over(w_win)).where(
        F.col("pos") <= F.greatest(F.col("n") - k - (wsz - 1), F.lit(0))
    )
    long_fp = winnowed.groupBy("doc_id").agg(
        F.countDistinct("wmin").alias("n_fp"),
        F.min("wmin").alias("min_fp"),
        F.max("wmin").alias("max_fp"),
    )
    short_fp = docs.where(F.col("n") < k).select(
        "doc_id",
        F.lit(1).cast("long").alias("n_fp"),
        char_fingerprint(F.col("text")).alias("min_fp"),
        char_fingerprint(F.col("text")).alias("max_fp"),
    )
    return long_fp.unionByName(short_fp)


ORACLE_WINNOW_FINGERPRINTS = """
WITH base AS (
  SELECT doc_id, text, greatest(length(text) - 7, 1) AS ng FROM documents
),
grams AS (
  SELECT doc_id, ng,
         list_transform(range(1, ng + 1),
           i -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      range(1, length(substr(text, CAST(i AS INT), 8)) + 1),
                      j -> CAST(ascii(substr(substr(text, CAST(i AS INT), 8),
                                             CAST(j AS INT), 1)) AS BIGINT))),
                  (acc, c) -> (acc * 31 + c) % 1000000007)) AS gh
  FROM base
),
winnowed AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, greatest(ng - 3, 1) + 1),
           i -> list_aggregate(gh[CAST(i AS INT):CAST(i + 3 AS INT)], 'min'))) AS fp
  FROM grams
)
SELECT doc_id, len(fp) AS n_fp,
       list_aggregate(fp, 'min') AS min_fp,
       list_aggregate(fp, 'max') AS max_fp
FROM winnowed
"""


def q_near_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dedup over the dup-injected corpus; survivors
    per language, with transitive connected-components clustering
    (keep-one-per-cluster, mongo_to_postgres_replication.py:35-39).

    Oracle-able even though LSH banding isn't SQL: LSH+verify recovers
    EXACTLY the exact-Jaccard pair set on this corpus (100%-recall
    invariant, tests/test_dedup_invariants.py), so the DuckDB twin
    computes the same clusters from the brute-force pair graph with a
    recursive transitive closure."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    kept = minhash_dedup(corpus, threshold=0.6)
    return kept.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))


ORACLE_NEAR_DEDUP_MINHASH = """
WITH RECURSIVE corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
sh AS (
  SELECT doc_id AS id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS w
        FROM corpus)
),
pairs AS (
  SELECT a.id AS id_a, b.id AS id_b
  FROM sh a JOIN sh b ON a.id < b.id
  WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
              / len(list_distinct(a.s || b.s)), 4) >= 0.6
),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(a, b) AS (
  SELECT a, b FROM edges
  UNION
  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
),
losers AS (SELECT DISTINCT a AS id FROM reach WHERE b < a)
SELECT lang, count(*) AS n_docs
FROM corpus
WHERE doc_id NOT IN (SELECT id FROM losers)
GROUP BY lang
"""


def q_simhash_near_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash bucketed near-pair detection over the dup-injected
    corpus, summarized as a hamming-distance histogram (raw pair lists
    grow quadratically in dense corpora — the histogram is the stable,
    scale-independent surface). Uses the portable md5-derived 32-bit
    token hash (operators/text_dedup.py:md5_hash32) so the whole
    simhash — bit votes, prefix buckets, hamming — is reproducible in
    DuckDB SQL and value-hash-checked; the xxhash64 production hash is
    exercised in tests."""
    from ..operators.text_dedup import md5_hash32

    corpus = _docs_with_near_dups(spark, sf_dir)
    pairs = simhash_near_pairs(
        corpus, max_hamming=3, prefix_bits=4, token_hash=md5_hash32
    )
    return pairs.groupBy("hamming").agg(F.count(F.lit(1)).alias("n_pairs"))


# The oracle replays the exact bit-vote construction relationally:
# per-token 32-bit hash (integer value of md5's first 8 hex chars) ->
# per-bit +1/-1 votes -> sign bits -> prefix buckets -> bit_count(xor).
_ORACLE_HASH32 = (
    "list_sum(list_transform(range(0,8), i -> "
    "(strpos('0123456789abcdef', substr(md5(tok), CAST(i+1 AS INT), 1)) - 1)"
    " * (1::BIGINT << CAST(4*(7-i) AS INT))))"
)

ORACLE_SIMHASH_NEAR_PAIRS = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
toks AS (
  SELECT doc_id,
         unnest(list_filter(regexp_split_to_array(trim(text), '\\s+'),
                            t -> t <> '')) AS tok
  FROM corpus
),
th AS (SELECT doc_id, {_ORACLE_HASH32} AS h FROM toks),
votes AS (
  SELECT doc_id, b,
         sum(CASE WHEN (h >> CAST(b AS INT)) & 1 = 1 THEN 1 ELSE -1 END) AS v
  FROM th, (SELECT unnest(range(0, 32)) AS b)
  GROUP BY doc_id, b
),
sim AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN v > 0 THEN (1::BIGINT << CAST(b AS INT))
                       ELSE 0 END) AS BIGINT) AS simhash
  FROM votes GROUP BY doc_id
),
s AS (SELECT doc_id AS id, simhash, simhash >> 28 AS bucket FROM sim),
pairs AS (
  SELECT CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
  FROM s a JOIN s b ON a.bucket = b.bucket AND a.id < b.id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
)
SELECT hamming, count(*) AS n_pairs FROM pairs GROUP BY hamming
"""


def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates verified by exact n-gram Jaccard (>= 0.6).

    Oracle: the brute-force exact-Jaccard pair set — valid because
    verification makes the LSH pipeline's output a SUBSET of the exact
    pairs, and the 100%-recall invariant (asserted in tests) makes it
    equal on this corpus; any banding regression that loses a pair now
    fails the value hash, not just a pytest."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    cands = minhash_lsh_candidates(corpus)
    return ngram_jaccard_pairs(corpus, cands, threshold=0.6)


def q_jaccard_exact_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact all-pairs word-3-gram Jaccard >= 0.6 over the dup-injected
    corpus — the brute-force ground truth the LSH pipeline approximates
    (candidates from q_ngram_jaccard_pairs are verified against the same
    metric). Fully SQL-expressible, so this one carries a value oracle."""
    from ..functions.text import word_shingles

    from ..operators._plan import spread_small_input

    # spread the corpus BEFORE the shingle expression: below the
    # spread's exchange the array transform would run on the scan's
    # single partition (r12 serialized-Generate fix)
    corpus = spread_small_input(_docs_with_near_dups(spark, sf_dir))
    sh = corpus.select(
        F.col("doc_id").alias("id"), word_shingles(F.col("text")).alias("sh")
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size(F.array_union("sh_a", "sh_b"))
    jac = F.when(union > 0, inter / union).otherwise(F.lit(0.0))
    return (
        a.crossJoin(b)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .where(F.col("jaccard") >= 0.6)
    )


ORACLE_JACCARD_EXACT_PAIRS = """
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
sh AS (
  SELECT doc_id AS id,
         CASE WHEN len(w) >= 3
              THEN list_distinct(list_transform(range(1, len(w) - 1),
                                 i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
              ELSE [array_to_string(w, ' ')] END AS s
  FROM (SELECT doc_id,
               list_filter(regexp_split_to_array(trim(text), '\\s+'),
                           t -> t <> '') AS w
        FROM corpus)
)
SELECT a.id AS id_a, b.id AS id_b,
       round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
             / len(list_distinct(a.s || b.s)), 4) AS jaccard
FROM sh a JOIN sh b ON a.id < b.id
WHERE round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(a.s || b.s)), 4) >= 0.6
"""


def q_training_data_prep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed LLM-training-data pipeline as ONE declarative query:
    dup-injected corpus -> quality gate (token-count band + integer-
    exact punctuation-ratio bound) -> exact dedup (md5 keep-first) ->
    per-language token budget. Every stage is an engine operator used
    elsewhere; composition adds no new shuffle beyond dedup + final agg.
    The punct filter is `n_punct * 5 < n_chars` (ratio < 0.2 in exact
    integer arithmetic) so both engines decide identically."""
    corpus = _docs_with_near_dups(spark, sf_dir)
    text = F.col("text")
    scored = corpus.select(
        "doc_id",
        "lang",
        text.alias("text"),
        token_count(text).alias("n_tokens"),
        F.length(text).alias("n_chars"),
        F.length(F.regexp_replace(text, r"[A-Za-z0-9\s]", "")).alias("n_punct"),
        bpe_token_count(text).alias("bpe_tokens"),
    )
    filtered = scored.where(
        (F.col("n_tokens") >= 10)
        & (F.col("n_tokens") <= 1000)
        & (F.col("n_punct") * 5 < F.col("n_chars"))
    )
    deduped = dedup_keep_first(
        filtered.withColumn("__k", F.md5(F.lower(F.trim(text)))),
        ["__k"],
        ["doc_id"],
    ).drop("__k")
    return deduped.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_ws_tokens"),
        F.sum("bpe_tokens").alias("total_bpe_tokens"),
    )


ORACLE_TRAINING_DATA_PREP = f"""
WITH corpus AS (
  SELECT doc_id, lang, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, lang, text || ' nearduplicate tail'
  FROM documents WHERE doc_id < 20
),
scored AS (
  SELECT doc_id, lang, text,
         len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS n_tokens,
         length(text) AS n_chars,
         length(regexp_replace(text, '[A-Za-z0-9\\s]', '', 'g')) AS n_punct,
         len(regexp_extract_all(text, '{BPE_TOKEN_REGEX}', 0)) AS bpe_tokens
  FROM corpus
),
filtered AS (
  SELECT * FROM scored
  WHERE n_tokens >= 10 AND n_tokens <= 1000 AND n_punct * 5 < n_chars
),
deduped AS (
  SELECT * FROM filtered
  QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                             ORDER BY doc_id) = 1
)
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_ws_tokens,
       CAST(sum(bpe_tokens) AS BIGINT) AS total_bpe_tokens
FROM deduped GROUP BY lang
"""


# ONE ANSI-portable SQL string serving as BOTH the Spark query (via the
# sources/views.py facade) and the DuckDB oracle — the purest statement
# of engine parity, and the migration path for the reference's SQL-first
# users: point existing SQL at register_views and it just runs.
SQL_PASSTHROUGH_REVENUE = """
SELECT n_name,
       CAST(year(l_shipdate) AS BIGINT) AS ship_year,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * (100 - CAST(round(l_discount * 100) AS BIGINT)))
            AS DOUBLE) / 10000.0 AS revenue,
       CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY n_name, CAST(year(l_shipdate) AS BIGINT)
ORDER BY n_name, ship_year
"""


def q_sql_passthrough_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-facade parity proof: spark.sql runs the IDENTICAL ANSI
    string DuckDB runs as the oracle (sources/views.register_views maps
    table names to the same parquet scans). Catalyst still prunes and
    pushes down — views are lazy plan aliases, not materializations."""
    from ..sources.views import sql_query

    return sql_query(spark, sf_dir, SQL_PASSTHROUGH_REVENUE)


def q_warehouse_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The medallion maintenance story end-to-end, driver-visible as
    ONE query (VERDICT r4 stretch): raw events -> clean layer
    (_events_base) -> ADDITIVE mart maintained over three delta batches
    (plans/ivm.maintain_additive_mart_versioned — the O(delta + mart)
    refresh the reference's drop-and-refill rebuild cannot do,
    build_analytical_marts.py:24-138) -> every refreshed state
    committed through the versioned atomic-commit sink
    (sources/sinks.versioned_upsert, the plain-parquet Delta-log idiom)
    -> the result TIME-TRAVELS: current snapshot vs the previous
    committed version, per event type.

    Batches split by event_id mod 3; the third batch also carries
    weight=-1 RETRACTIONS of the batch-1 rows with event_id % 50 == 0
    (late corrections), so the subtraction algebra and the keep-newest
    version merge are both exercised, not assumed. Everything is exact
    integer units, so the DuckDB twin reproduces both snapshots from
    the raw definition — the IVM batches==full invariant IS the oracle.

    Known boundary (deliberate): the keep-newest snapshot commit
    cannot propagate a FULL group retraction — a key absent from the
    new snapshot survives with its prior version's row (upserts carry
    no tombstones). The mart refresh itself drops zero-count groups
    correctly; a production pipeline whose groups can fully
    retract must commit through delete-aware snapshots (overwrite or
    CDC MERGE with deletes, operators/cdc.py) rather than the upsert
    sink. Here retractions are a strict subset per type, so the
    invariant holds by construction.
    """
    import hashlib
    import os
    import shutil

    from .._stage import stage_root
    from ..plans.ivm import maintain_additive_mart_versioned
    from ..sources.sinks import read_versioned, versioned_upsert

    base = _events_base(spark, sf_dir).select(
        "event_id", "event_type", units("value").alias("v_u")
    )
    m3 = F.col("event_id") % 3
    b1 = base.where(m3 == 0).withColumn("wt", F.lit(1))
    b2 = base.where(m3 == 1).withColumn("wt", F.lit(1))
    b3 = base.where(m3 == 2).withColumn("wt", F.lit(1)).unionByName(
        base.where((m3 == 0) & (F.col("event_id") % 50 == 0)).withColumn(
            "wt", F.lit(-1)
        )
    )
    # Deterministic per-(process, sf_dir) workspace under the session
    # stage root, wiped on entry: the returned DataFrame still reads
    # these files, so cleanup must happen at the NEXT invocation (or
    # at process exit via the root's atexit hook), and a fresh dir per
    # call would leak a mart+snapshot copy every bench/test run. The
    # pid must stay in the name even though the default root already
    # embeds it: a configured SHARED stage root does not, and two
    # concurrent processes on the same sf_dir would otherwise rmtree
    # each other's live mart mid-query (ADVICE r8 medium).
    token = hashlib.md5(sf_dir.encode()).hexdigest()[:8]
    tmp = os.path.join(stage_root(spark), f"hse_wm_{os.getpid()}_{token}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    mart = os.path.join(tmp, "mart")
    vroot = os.path.join(tmp, "versioned")
    for ver, batch in enumerate((b1, b2, b3), start=1):
        maintain_additive_mart_versioned(
            spark, mart, batch, ["event_type"], ["v_u"], weight_col="wt"
        )
        snap = read_versioned(spark, mart).withColumn("ver", F.lit(ver))
        versioned_upsert(
            spark, snap, vroot, ["event_type"], "ver", keep_versions=2
        )
    cur = read_versioned(spark, vroot).select(
        "event_type",
        "n_rows",
        as_value("sum_v_u").alias("sum_value"),
    )
    prev = read_versioned(spark, vroot, version=2).select(
        "event_type",
        F.col("n_rows").alias("prev_n_rows"),
        as_value("sum_v_u").alias("prev_sum_value"),
    )
    return cur.join(prev, "event_type").orderBy("event_type")


ORACLE_WAREHOUSE_MAINTENANCE = f"""
WITH base AS (
  SELECT event_id, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS v_u
  FROM ({_ORACLE_EVENTS_BASE})
),
weighted AS (
  SELECT event_type, v_u, 1 AS wt FROM base
  UNION ALL
  SELECT event_type, v_u, -1 FROM base
  WHERE event_id % 3 = 0 AND event_id % 50 = 0
),
cur AS (
  SELECT event_type, CAST(sum(wt) AS BIGINT) AS n_rows,
         CAST(sum(v_u * wt) AS BIGINT) AS s
  FROM weighted GROUP BY event_type
),
prev AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS prev_n_rows,
         CAST(sum(v_u) AS BIGINT) AS ps
  FROM base WHERE event_id % 3 IN (0, 1) GROUP BY event_type
)
SELECT cur.event_type, cur.n_rows,
       CAST(cur.s AS DOUBLE) / 100 AS sum_value,
       prev.prev_n_rows,
       CAST(prev.ps AS DOUBLE) / 100 AS prev_sum_value
FROM cur JOIN prev USING (event_type)
ORDER BY cur.event_type
"""


def q_cdc_apply_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC MERGE (operators/cdc.cdc_apply): a synthetic I/U/D change
    feed derived from customer — balance updates for custkey%10==0
    (ver 2), deletes for custkey%17==0 (ver 3, so a key with both
    changes ends deleted: newest-wins is exercised, not assumed), and
    inserts of new keys for custkey%100==0 (ver 1) — applied to the
    customer snapshot. Per-nation survivor census in exact cents."""
    from ..operators.cdc import cdc_apply

    snap = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", units("c_acctbal").alias("bal_u")
    )
    upd = snap.where(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        "c_nationkey",
        (F.col("bal_u") + 1000).alias("bal_u"),
        F.lit(2).alias("ver"),
        F.lit("U").alias("op"),
    )
    dele = snap.where(F.col("c_custkey") % 17 == 0).select(
        "c_custkey", "c_nationkey", "bal_u",
        F.lit(3).alias("ver"), F.lit("D").alias("op"),
    )
    ins = snap.where(F.col("c_custkey") % 100 == 0).select(
        (F.col("c_custkey") + 1_000_000).alias("c_custkey"),
        "c_nationkey",
        F.lit(5000).cast("long").alias("bal_u"),
        F.lit(1).alias("ver"),
        F.lit("I").alias("op"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    nxt = cdc_apply(snap, changes, ["c_custkey"], "ver", "op")
    return (
        nxt.groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            as_value(F.sum("bal_u")).alias("total_bal"),
        )
        .orderBy("c_nationkey")
    )


ORACLE_CDC_APPLY_SNAPSHOT = f"""
WITH snap AS (
  SELECT c_custkey, c_nationkey,
         CAST({oracle_units('c_acctbal')} AS BIGINT) AS bal_u
  FROM customer
),
changes AS (
  SELECT c_custkey, c_nationkey, bal_u + 1000 AS bal_u, 2 AS ver, 'U' AS op
  FROM snap WHERE c_custkey % 10 = 0
  UNION ALL
  SELECT c_custkey, c_nationkey, bal_u, 3, 'D' FROM snap
  WHERE c_custkey % 17 = 0
  UNION ALL
  SELECT c_custkey + 1000000, c_nationkey, CAST(5000 AS BIGINT), 1, 'I'
  FROM snap WHERE c_custkey % 100 = 0
),
newest AS (
  SELECT * FROM changes
  QUALIFY row_number() OVER (
    PARTITION BY c_custkey
    ORDER BY ver DESC, CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC) = 1
),
applied AS (
  SELECT coalesce(n.c_custkey, s.c_custkey) AS c_custkey,
         CASE WHEN n.op IS NOT NULL THEN n.c_nationkey
              ELSE s.c_nationkey END AS c_nationkey,
         CASE WHEN n.op IS NOT NULL THEN n.bal_u ELSE s.bal_u END AS bal_u,
         n.op
  FROM snap s FULL JOIN newest n ON s.c_custkey = n.c_custkey
)
SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n_customers,
       CAST(sum(bal_u) AS DOUBLE) / 100.0 AS total_bal
FROM applied WHERE op IS NULL OR op <> 'D'
GROUP BY c_nationkey ORDER BY c_nationkey
"""


def q_zorder_extent_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton-key clustering census (functions/zorder.z_value): bucket
    part rows by the top bits of the (p_size, p_partkey mod 2048)
    interleave and report each bucket's extent in BOTH dimensions —
    the bounded-extent property that makes z-ordered files skippable
    under box predicates on either column. Exact bitwise algebra, so
    the DuckDB twin reproduces keys bit-for-bit."""
    from ..functions.zorder import z_value

    part = load_table(spark, sf_dir, "part").select(
        F.col("p_size").cast("long").alias("x"),
        F.pmod(F.col("p_partkey"), F.lit(2048)).cast("long").alias("y"),
    )
    z = z_value([F.col("x"), F.col("y")], bits=11)
    return (
        part.withColumn("z_bucket", F.shiftright(z, 18))
        .groupBy("z_bucket")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .orderBy("z_bucket")
    )


ORACLE_ZORDER_EXTENT_STATS = """
WITH p AS (
  SELECT CAST(p_size AS BIGINT) AS x,
         CAST(p_partkey % 2048 AS BIGINT) AS y
  FROM part
),
b AS (SELECT x, y, (((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 0) & 1) << 0) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 0) & 1) << 1) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 1) & 1) << 2) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 1) & 1) << 3) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 2) & 1) << 4) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 2) & 1) << 5) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 3) & 1) << 6) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 3) & 1) << 7) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 4) & 1) << 8) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 4) & 1) << 9) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 5) & 1) << 10) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 5) & 1) << 11) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 6) & 1) << 12) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 6) & 1) << 13) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 7) & 1) << 14) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 7) & 1) << 15) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 8) & 1) << 16) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 8) & 1) << 17) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 9) & 1) << 18) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 9) & 1) << 19) | ((((greatest(0, least(CAST(x AS BIGINT), 2047))) >> 10) & 1) << 20) | ((((greatest(0, least(CAST(y AS BIGINT), 2047))) >> 10) & 1) << 21)) >> 18 AS z_bucket FROM p)
SELECT z_bucket, CAST(count(*) AS BIGINT) AS n_rows,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y
FROM b GROUP BY z_bucket ORDER BY z_bucket
"""


def q_table_profile_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column profile of customer (operators/profile.
    profile_table): null counts, exact distincts, min/max — the
    day-one migration observability query. The oracle re-derives each
    column's row as an independent aggregate (UNION ALL), proving the
    one-scan wide-aggregate + unpivot against the naive per-column
    form."""
    from ..operators.profile import profile_table

    return profile_table(load_table(spark, sf_dir, "customer"))


ORACLE_TABLE_PROFILE_CUSTOMER = """
WITH s AS (SELECT * FROM customer)
SELECT * FROM (
  SELECT 'c_custkey' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
         CAST(count(*) FILTER (c_custkey IS NULL) AS BIGINT) AS n_nulls,
         CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_distinct,
         CAST(min(c_custkey) AS VARCHAR) AS min_value,
         CAST(max(c_custkey) AS VARCHAR) AS max_value
  FROM s
  UNION ALL
  SELECT 'c_name', count(*), count(*) FILTER (c_name IS NULL),
         count(DISTINCT c_name), min(c_name), max(c_name) FROM s
  UNION ALL
  SELECT 'c_nationkey', count(*), count(*) FILTER (c_nationkey IS NULL),
         count(DISTINCT c_nationkey),
         CAST(min(c_nationkey) AS VARCHAR), CAST(max(c_nationkey) AS VARCHAR)
  FROM s
  UNION ALL
  SELECT 'c_acctbal', count(*), count(*) FILTER (c_acctbal IS NULL),
         count(DISTINCT c_acctbal),
         CAST(min(c_acctbal) AS VARCHAR), CAST(max(c_acctbal) AS VARCHAR)
  FROM s
  UNION ALL
  SELECT 'c_mktsegment', count(*), count(*) FILTER (c_mktsegment IS NULL),
         count(DISTINCT c_mktsegment), min(c_mktsegment), max(c_mktsegment)
  FROM s
) ORDER BY col_name
"""


def q_skew_report_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-skew diagnosis (operators/profile.skew_report) on the raw
    events event_type — the census read before picking a join strategy
    for that key; surfaces the messy-casing variants the clean layer
    normalizes away. TakeOrdered top-N, never a global rank window."""
    from ..operators.profile import skew_report

    return skew_report(load_table(spark, sf_dir, "events"), "event_type", 10)


ORACLE_SKEW_REPORT_EVENTS = """
WITH c AS (
  SELECT CAST(event_type AS VARCHAR) AS key_value,
         CAST(count(*) AS BIGINT) AS n_rows
  FROM events GROUP BY 1
),
t AS (SELECT CAST(sum(n_rows) AS BIGINT) AS total FROM c),
r AS (
  SELECT key_value, n_rows,
         row_number() OVER (ORDER BY n_rows DESC,
                            key_value ASC NULLS FIRST) AS rank
  FROM c
)
SELECT CAST(rank AS INTEGER) AS rank, key_value, n_rows,
       CAST(n_rows * 10000 // t.total AS BIGINT) AS share_bp
FROM r, t WHERE rank <= 10
"""


def q_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch revenue attribution: each purchase credits its value
    to the user's MOST RECENT prior touch (view/click), 'none' when the
    purchase had no prior touch — the marketing staple built as one
    user-keyed window carry (last non-null touch type over rows up to
    1 PRECEDING — the self-exclusion makes same-timestamp ordering
    deterministic via the event_id tie-break), never a per-user array
    or self-join. Census per credited channel in exact cents."""
    ev = load_table(spark, sf_dir, "events")
    kind = F.lower(F.trim(F.col("event_type")))
    base = ev.where(
        F.col("ts").isNotNull()
        & F.col("user_id").isNotNull()
        & kind.isin("view", "click", "purchase")
    ).select(
        "user_id",
        "event_id",
        "ts",
        kind.alias("kind"),
        F.col("value"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carried = base.withColumn(
        "last_touch",
        F.last(
            F.when(F.col("kind") != "purchase", F.col("kind")), ignorenulls=True
        ).over(w),
    )
    return (
        carried.where((F.col("kind") == "purchase") & F.col("value").isNotNull())
        .groupBy(F.coalesce(F.col("last_touch"), F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            as_value(units_sum("value")).alias("total_value"),
        )
        .orderBy("channel")
    )


ORACLE_LAST_TOUCH_ATTRIBUTION = f"""
WITH base AS (
  SELECT user_id, event_id, ts, lower(trim(event_type)) AS kind, value
  FROM events
  WHERE ts IS NOT NULL AND user_id IS NOT NULL
    AND lower(trim(event_type)) IN ('view', 'click', 'purchase')
),
carried AS (
  SELECT *,
         last_value(CASE WHEN kind <> 'purchase' THEN kind END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS last_touch
  FROM base
)
SELECT coalesce(last_touch, 'none') AS channel,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum({oracle_units('value')}) AS DOUBLE) / 100.0 AS total_value
FROM carried
WHERE kind = 'purchase' AND value IS NOT NULL
GROUP BY 1 ORDER BY 1
"""


def q_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equal-width histogram of event values over fixed bounds
    [0, 200) x 20 buckets (operators/profile.value_histogram):
    out-of-range values clamp into the edge buckets, empty buckets
    emit 0 via the broadcast bucket spine. One map-side-combinable
    groupBy on a row-local bucket index."""
    from ..operators.profile import value_histogram

    ev = load_table(spark, sf_dir, "events")
    return value_histogram(ev, "value", buckets=20, lo=0.0, hi=200.0)


ORACLE_VALUE_HISTOGRAM = """
WITH b AS (
  SELECT least(19, greatest(0,
           CAST(floor((CAST(value AS DOUBLE) - 0.0) / 10.0) AS INT)))
           AS bucket
  FROM events WHERE value IS NOT NULL
),
c AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_rows FROM b GROUP BY 1),
spine AS (SELECT CAST(range AS INT) AS bucket FROM range(0, 20))
SELECT s.bucket,
       CAST(s.bucket * 10.0 AS DOUBLE) AS bucket_lo,
       CAST((s.bucket + 1) * 10.0 AS DOUBLE) AS bucket_hi,
       coalesce(c.n_rows, 0) AS n_rows
FROM spine s LEFT JOIN c ON s.bucket = c.bucket
ORDER BY s.bucket
"""


def q_numeric_correlations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlations of the lineitem measures from
    exact integer moments (operators/profile.correlation_matrix):
    quantity/extendedprice at scale 0, discount/tax at scale 2 so
    every sum of squares stays inside BIGINT at any order; the oracle
    re-derives the same moments (DuckDB's HUGEINT sums equal Spark's
    non-overflowing BIGINT sums) and the same rounded division."""
    from ..operators.profile import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li,
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        scales=[0, 0, 2, 2],
    )


def _oracle_corr(cols: list[str], scales: list[int]) -> str:
    su = {c: f"CAST(round(CAST({c} AS DOUBLE) * {10**s}) AS BIGINT)"
          for c, s in zip(cols, scales)}
    parts = []
    for i, a in enumerate(cols):
        for b in cols[i + 1:]:
            both = f"{a} IS NOT NULL AND {b} IS NOT NULL"
            ua, ub = su[a], su[b]
            parts.append(f"""
  SELECT '{a}' AS col_x, '{b}' AS col_y,
         CAST(count(*) FILTER ({both}) AS BIGINT) AS n_pairs,
         CASE WHEN sqrt(CAST(count(*) FILTER ({both}) AS DOUBLE)
                        * sum(CASE WHEN {both} THEN {ua} * {ua} END)
                        - CAST(sum(CASE WHEN {both} THEN {ua} END) AS DOUBLE)
                          * sum(CASE WHEN {both} THEN {ua} END))
                   * sqrt(CAST(count(*) FILTER ({both}) AS DOUBLE)
                          * sum(CASE WHEN {both} THEN {ub} * {ub} END)
                          - CAST(sum(CASE WHEN {both} THEN {ub} END) AS DOUBLE)
                            * sum(CASE WHEN {both} THEN {ub} END)) > 0
              THEN round((CAST(count(*) FILTER ({both}) AS DOUBLE)
                          * sum(CASE WHEN {both} THEN {ua} * {ub} END)
                          - CAST(sum(CASE WHEN {both} THEN {ua} END) AS DOUBLE)
                            * sum(CASE WHEN {both} THEN {ub} END))
                         / (sqrt(CAST(count(*) FILTER ({both}) AS DOUBLE)
                                 * sum(CASE WHEN {both} THEN {ua} * {ua} END)
                                 - CAST(sum(CASE WHEN {both} THEN {ua} END) AS DOUBLE)
                                   * sum(CASE WHEN {both} THEN {ua} END))
                            * sqrt(CAST(count(*) FILTER ({both}) AS DOUBLE)
                                   * sum(CASE WHEN {both} THEN {ub} * {ub} END)
                                   - CAST(sum(CASE WHEN {both} THEN {ub} END) AS DOUBLE)
                                     * sum(CASE WHEN {both} THEN {ub} END))), 6)
         END AS corr
  FROM lineitem""")
    return ("SELECT * FROM (" + "\n  UNION ALL\n".join(parts)
            + ") ORDER BY col_x, col_y")


ORACLE_NUMERIC_CORRELATIONS = _oracle_corr(
    ["l_quantity", "l_extendedprice", "l_discount", "l_tax"], [0, 0, 2, 2]
)


def q_referential_integrity_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Warehouse FK audit (plans/quality.fk_orphans): orphan counts for
    the schema's three fact->dim edges plus a deliberately-broken probe
    (orders joined to a truncated customer dim) proving the check
    actually fires — each edge one LEFT ANTI join with the parent
    reduced to its key column."""
    from ..plans.quality import fk_orphans

    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    nation = load_table(spark, sf_dir, "nation")
    half_cust = cust.where(F.col("c_custkey") % 2 == 0)
    edges = [
        ("orders.o_custkey -> customer", fk_orphans(orders, cust, "o_custkey", "c_custkey")),
        ("lineitem.l_orderkey -> orders", fk_orphans(li, orders, "l_orderkey", "o_orderkey")),
        ("customer.c_nationkey -> nation", fk_orphans(cust, nation, "c_nationkey", "n_nationkey")),
        ("orders.o_custkey -> HALF customer (probe)", fk_orphans(orders, half_cust, "o_custkey", "c_custkey")),
    ]
    rows = None
    for label, orphans in edges:
        r = orphans.agg(F.count(F.lit(1)).alias("n_orphans")).select(
            F.lit(label).alias("edge"), "n_orphans"
        )
        rows = r if rows is None else rows.unionByName(r)
    return rows.orderBy("edge")


ORACLE_REFERENTIAL_INTEGRITY_REPORT = """
SELECT * FROM (
  SELECT 'orders.o_custkey -> customer' AS edge,
         CAST(count(*) AS BIGINT) AS n_orphans
  FROM orders o WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
  UNION ALL
  SELECT 'lineitem.l_orderkey -> orders',
         CAST(count(*) AS BIGINT)
  FROM lineitem l WHERE l.l_orderkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
  UNION ALL
  SELECT 'customer.c_nationkey -> nation',
         CAST(count(*) AS BIGINT)
  FROM customer c WHERE c.c_nationkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey)
  UNION ALL
  SELECT 'orders.o_custkey -> HALF customer (probe)',
         CAST(count(*) AS BIGINT)
  FROM orders o WHERE o.o_custkey IS NOT NULL
    AND NOT EXISTS (SELECT 1 FROM customer c
                    WHERE c.c_custkey % 2 = 0 AND c.c_custkey = o.o_custkey)
) ORDER BY edge
"""


def q_dau_wau_stickiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-analytics stickiness: per calendar week, average daily
    active users over the week's observed days, weekly active users,
    and DAU/WAU in exact basis points — two distinct-user censuses
    rolled up from one (day, user) dedup pass (the weekly census
    re-aggregates the daily one; no second scan of raw events)."""
    ev = load_table(spark, sf_dir, "events")
    day_user = (
        ev.where(F.col("ts").isNotNull() & F.col("user_id").isNotNull())
        .select(
            F.col("ts").cast("date").alias("day"),
            F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
            "user_id",
        )
        .distinct()
    )
    daily = day_user.groupBy("week", "day").agg(
        F.count(F.lit(1)).alias("dau")
    )
    weekly = day_user.select("week", "user_id").distinct().groupBy("week").agg(
        F.count(F.lit(1)).alias("wau")
    )
    per_week = daily.groupBy("week").agg(
        F.sum("dau").alias("sum_dau"), F.count(F.lit(1)).alias("n_days")
    )
    return (
        per_week.join(weekly, "week")
        .select(
            "week",
            "n_days",
            F.expr("CAST(sum_dau div n_days AS BIGINT)").alias("avg_dau"),
            "wau",
            F.expr(
                "CAST((sum_dau * 10000) div (n_days * wau) AS BIGINT)"
            ).alias("stickiness_bp"),
        )
        .orderBy("week")
    )


ORACLE_DAU_WAU_STICKINESS = """
WITH du AS (
  SELECT DISTINCT CAST(ts AS DATE) AS day,
         CAST(date_trunc('week', ts) AS DATE) AS week, user_id
  FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
),
daily AS (SELECT week, day, count(*) AS dau FROM du GROUP BY 1, 2),
weekly AS (SELECT week, count(DISTINCT user_id) AS wau
           FROM du GROUP BY 1),
pw AS (SELECT week, sum(dau) AS sum_dau, count(*) AS n_days
       FROM daily GROUP BY 1)
SELECT pw.week, CAST(n_days AS BIGINT) AS n_days,
       CAST(sum_dau // n_days AS BIGINT) AS avg_dau,
       CAST(wau AS BIGINT) AS wau,
       CAST((sum_dau * 10000) // (n_days * wau) AS BIGINT) AS stickiness_bp
FROM pw JOIN weekly ON pw.week = weekly.week
ORDER BY pw.week
"""


def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-concentration diagnostics over customers: exact-integer
    Gini coefficient in basis points plus top-1%/top-10% revenue shares
    — the long-tail skew readout that decides partnership/SLA tiers
    (and, mechanically, whether a per-customer key needs salting). One
    per-customer rollup, one DISTRIBUTED global rank (range partition +
    per-partition offsets, operators/rank.py — never a single-partition
    window), one final aggregate; Gini via the rank formula
    (2*sum(i*x_i) - (n+1)*sum(x)) / (n*sum(x)) in pure BIGINT."""
    from ..operators.rank import global_rank

    orders = load_table(spark, sf_dir, "orders")
    per_cust = orders.groupBy("o_custkey").agg(
        F.sum(units("o_totalprice")).alias("rev_u")
    )
    # distributed global rank (operators/rank.py) — a bare
    # row_number() OVER (ORDER BY ...) would drag every customer row
    # through ONE task
    ranked = global_rank(per_cust, ["rev_u", "o_custkey"], "i")
    # the share thresholds reference the total count INSIDE a sum —
    # Spark forbids nested aggregates, so (n, tot) ride a broadcast
    # 1-row frame and enter the final aggregate as plain columns
    tot = ranked.agg(
        F.count(F.lit(1)).alias("n"), F.sum("rev_u").alias("tot")
    )
    # integer-headroom audit (r11, finding-39 discipline): i*rev_u and
    # the 10000-scaled numerators wrap BIGINT once n_customers x money
    # units pass ~1e18 — well inside 100 TB territory — so every
    # product rides DECIMAL(38,0) (sum(i*rev_u) <= n*tot ~ 1e31, exact
    # in 38 digits); quotients are bp values that always fit BIGINT.
    # DuckDB's oracle already computes these exactly via HUGEINT, so
    # below the wrap point values are unchanged on both sides.
    return ranked.crossJoin(F.broadcast(tot)).agg(
        F.max("n").alias("n_customers"),
        F.expr(
            "CAST((10000 * (2 * sum(CAST(i AS DECIMAL(38,0)) * rev_u)"
            "      - (CAST(max(n) AS DECIMAL(38,0)) + 1) * max(tot)))"
            " div (CAST(max(n) AS DECIMAL(38,0)) * max(tot)) AS BIGINT)"
        ).alias("gini_bp"),
        F.expr(
            "CAST((CAST(10000 AS DECIMAL(38,0))"
            " * sum(CASE WHEN i > n - (n div 100)"
            " THEN rev_u ELSE 0 END)) div max(tot) AS BIGINT)"
        ).alias("top1pct_share_bp"),
        F.expr(
            "CAST((CAST(10000 AS DECIMAL(38,0))"
            " * sum(CASE WHEN i > n - (n div 10)"
            " THEN rev_u ELSE 0 END)) div max(tot) AS BIGINT)"
        ).alias("top10pct_share_bp"),
    )


ORACLE_REVENUE_CONCENTRATION = f"""
WITH pc AS (
  SELECT o_custkey, CAST(sum({oracle_units('o_totalprice')}) AS BIGINT) AS rev_u
  FROM orders GROUP BY 1
),
r AS (
  SELECT rev_u,
         CAST(row_number() OVER (ORDER BY rev_u ASC, o_custkey ASC) AS BIGINT) AS i
  FROM pc
),
t AS (SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(rev_u) AS BIGINT) AS tot FROM r)
SELECT CAST(max(n) AS BIGINT) AS n_customers,
       CAST((10000 * (2 * sum(i * rev_u) - (max(n) + 1) * max(tot)))
            // (max(n) * max(tot)) AS BIGINT) AS gini_bp,
       CAST((10000 * sum(CASE WHEN i > n - (n // 100)
                              THEN rev_u ELSE 0 END))
            // max(tot) AS BIGINT) AS top1pct_share_bp,
       CAST((10000 * sum(CASE WHEN i > n - (n // 10)
                              THEN rev_u ELSE 0 END))
            // max(tot) AS BIGINT) AS top10pct_share_bp
FROM r CROSS JOIN t
"""


def q_events_hourly_heatmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ops-dashboard heatmap: event counts by (ISO weekday, hour of
    day) with an exact basis-point share of the total — one census
    over row-local calendar extractions (the 7x24 key space compresses
    to nothing under map-side partials). Weekday via dayofweek with an
    explicit Monday=1 rebase: Spark counts Sunday=1 while DuckDB
    counts Sunday=0, so both sides rebase rather than trusting the
    engine default."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # Monday=1..Sunday=7 from Spark's Sunday=1..Saturday=7
    iso_dow = F.pmod(F.dayofweek("ts") + 5, F.lit(7)) + 1
    counts = (
        ev.groupBy(
            iso_dow.cast("int").alias("weekday"),
            F.hour("ts").cast("int").alias("hour"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    total = counts.agg(F.sum("n_events").alias("__t"))
    return (
        counts.crossJoin(F.broadcast(total))
        .select(
            "weekday",
            "hour",
            "n_events",
            F.expr("CAST(n_events * 10000 div __t AS BIGINT)").alias("share_bp"),
        )
        .orderBy("weekday", "hour")
    )


ORACLE_EVENTS_HOURLY_HEATMAP = """
WITH c AS (
  SELECT CAST((dayofweek(ts) + 6) % 7 + 1 AS INTEGER) AS weekday,
         CAST(hour(ts) AS INTEGER) AS hour,
         CAST(count(*) AS BIGINT) AS n_events
  FROM events WHERE ts IS NOT NULL
  GROUP BY 1, 2
),
t AS (SELECT CAST(sum(n_events) AS BIGINT) AS tot FROM c)
SELECT weekday, hour, n_events,
       CAST(n_events * 10000 // t.tot AS BIGINT) AS share_bp
FROM c, t ORDER BY weekday, hour
"""


def q_dedup_rate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curation KPI: per-source exact-duplicate rate — total docs,
    survivors after exact dedup, and the duplicate rate in exact basis
    points per source (literal copies injected at doc_id+2,000,000 for
    doc_id < 25, so every source shows both natural and seeded
    duplication). Two small censuses joined on source; the dedup
    shuffle carries 16-byte digests, never document text."""
    from ..operators.text_dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    copies = docs.where(F.col("doc_id") < 25).withColumn(
        "doc_id", F.col("doc_id") + 2_000_000
    )
    corpus = docs.unionByName(copies)
    total = corpus.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    kept = (
        exact_dedup(corpus)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )
    return (
        total.join(kept, "source")
        .select(
            "source",
            "n_docs",
            "n_kept",
            F.expr(
                "CAST((n_docs - n_kept) * 10000 div n_docs AS BIGINT)"
            ).alias("dup_rate_bp"),
        )
        .orderBy("source")
    )


ORACLE_DEDUP_RATE_REPORT = """
WITH corpus AS (
  SELECT doc_id, source, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000, source, text FROM documents WHERE doc_id < 25
),
total AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
          FROM corpus GROUP BY 1),
kept AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_kept
  FROM (
    SELECT * FROM corpus
    QUALIFY row_number() OVER (PARTITION BY md5(lower(trim(text)))
                               ORDER BY doc_id) = 1
  ) GROUP BY 1
)
SELECT t.source, n_docs, n_kept,
       CAST((n_docs - n_kept) * 10000 // n_docs AS BIGINT) AS dup_rate_bp
FROM total t JOIN kept k ON t.source = k.source
ORDER BY t.source
"""


def q_fuzzy_name_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution without the cartesian product: all customer-name
    pairs within ONE edit operation, found by SymSpell deletion-
    neighborhood blocking (operators/fuzzy_join.fuzzy_self_join —
    O(n*len) variant rows through an ordinary hash join, exact recall
    at d=1) and summarized per edited character position. TPC-H names
    differ only in the numeric suffix, so the census shape (which digit
    position, how many pairs) is a sharp correctness signal.

    Oracle: brute-force O(n^2) levenshtein join — a genuinely
    independent second implementation; matching it end-to-end proves
    the blocking lost no pair."""
    from ..operators.fuzzy_join import fuzzy_self_join

    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    pairs = fuzzy_self_join(cust, "c_custkey", "c_name", max_dist=1)
    # first differing character position (names are equal length here,
    # so a d=1 pair differs in exactly one substituted position)
    edit_pos = F.array_min(
        F.filter(
            F.sequence(F.lit(1), F.length("name_a")),
            lambda i: F.substring(F.col("name_a"), i, F.lit(1))
            != F.substring(F.col("name_b"), i, F.lit(1)),
        )
    )
    return (
        pairs.withColumn("edit_pos", edit_pos)
        .groupBy("edit_pos")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.sum(F.col("id_a") + F.col("id_b")).alias("key_checksum"),
        )
        .orderBy("edit_pos")
    )


ORACLE_FUZZY_NAME_MATCH = """
WITH pairs AS (
  SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
         a.c_name AS name_a, b.c_name AS name_b
  FROM customer a JOIN customer b
    ON a.c_custkey < b.c_custkey
   AND levenshtein(a.c_name, b.c_name) <= 1
)
SELECT list_min(list_filter(range(1, CAST(len(name_a) AS INT) + 1),
                            i -> substr(name_a, CAST(i AS INT), 1)
                                 <> substr(name_b, CAST(i AS INT), 1)))
         AS edit_pos,
       count(*) AS n_pairs,
       CAST(sum(id_a + id_b) AS BIGINT) AS key_checksum
FROM pairs GROUP BY 1 ORDER BY 1
"""


def q_basket_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association mining (operators/basket
    .basket_pair_lift): the 2-itemset census over order baskets —
    support, per-item supports, and lift for every part pair
    co-purchased in >= 3 orders. The self-join is quadratic per basket,
    never per table, and the basket-size cap bounds the worst case
    before the join runs (scale notes in the operator docstring)."""
    from ..operators.basket import basket_pair_lift

    li = load_table(spark, sf_dir, "lineitem")
    return basket_pair_lift(
        li, "l_orderkey", "l_partkey", min_support=3, max_basket=64
    ).select(
        F.col("item_a").cast("bigint").alias("item_a"),
        F.col("item_b").cast("bigint").alias("item_b"),
        "supp_ab",
        "supp_a",
        "supp_b",
        "lift",
    )


ORACLE_BASKET_LIFT_PAIRS = """
WITH items AS (
  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem
),
sized AS (
  SELECT b FROM items GROUP BY b HAVING count(*) <= 64
),
kept AS (SELECT items.b, items.i FROM items JOIN sized USING (b)),
nb AS (SELECT count(DISTINCT b) AS n FROM kept),
pairs AS (
  SELECT a.i AS item_a, k.i AS item_b, count(*) AS supp_ab
  FROM kept a JOIN kept k ON a.b = k.b AND a.i < k.i
  GROUP BY 1, 2 HAVING count(*) >= 3
),
isupp AS (SELECT i, count(*) AS supp FROM kept GROUP BY i)
SELECT CAST(item_a AS BIGINT) AS item_a,
       CAST(item_b AS BIGINT) AS item_b,
       CAST(supp_ab AS BIGINT) AS supp_ab,
       CAST(sa.supp AS BIGINT) AS supp_a,
       CAST(sb.supp AS BIGINT) AS supp_b,
       round(CAST(nb.n AS BIGINT) * supp_ab
             / CAST(CAST(sa.supp AS BIGINT) * sb.supp AS DOUBLE), 6)
         AS lift
FROM pairs
JOIN isupp sa ON pairs.item_a = sa.i
JOIN isupp sb ON pairs.item_b = sb.i
CROSS JOIN nb
"""


# --- time-decayed trending --------------------------------------------------


def q_trending_decay_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-item trending scores under bucketed exponential decay with a
    1-day half-life (operators/trending.decayed_counts): each event
    contributes ``1_000_000 >> floor(age_days)`` micro-units against
    the corpus max timestamp, summed as exact BIGINTs — the "what's
    hot, weighted toward now" rollup of a live feed, computed as a
    pure function of the data (no wall clock) so any engine replays it
    bit-for-bit. Items whose weight decayed to zero drop before the
    shuffle; n_events counts contributing events only."""
    from ..operators.trending import decayed_counts
    from ..streaming.sessionize import _epoch_micros

    ev = load_table(spark, sf_dir, "events").where(
        F.col("ts").isNotNull() & F.col("props").isNotNull()
    )
    base = ev.select(
        F.get_json_object("props", "$.k").cast("int").alias("item_k"), "ts"
    )
    out = decayed_counts(
        base, "item_k", _epoch_micros(base, "ts"), half_life_us=86_400_000_000
    )
    return out.select(
        F.col("item").alias("item_k"), "score_units", "n_events", "last_seen_us"
    )


ORACLE_TRENDING_DECAY_ITEMS = """
WITH ev AS (
  SELECT CAST(props->>'$.k' AS INT) AS item_k, epoch_us(ts) AS ts_us
  FROM events
  WHERE ts IS NOT NULL AND props IS NOT NULL
),
ref AS (SELECT max(ts_us) AS ref_us FROM ev WHERE item_k IS NOT NULL),
w AS (
  SELECT item_k, ts_us,
         CASE WHEN CAST(floor((ref_us - ts_us) / 86400000000.0) AS INT) < 20
              THEN CAST(1000000 AS BIGINT)
                   >> CAST(floor((ref_us - ts_us) / 86400000000.0) AS INT)
              ELSE 0 END AS wt
  FROM ev, ref
  WHERE item_k IS NOT NULL
)
SELECT item_k,
       CAST(sum(wt) AS BIGINT) AS score_units,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(max(ts_us) AS BIGINT) AS last_seen_us
FROM w
WHERE wt > 0
GROUP BY item_k
"""


def q_ppjoin_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THIRD exact path to the all-pairs shingle-Jaccard >= 0.6 set
    (operators/setsim.prefix_filter_jaccard_pairs): prefix-filtered
    candidates (rarest shingles only, an ordinary equi-join) + exact
    verify. Oracled by the same brute-force DuckDB twin as
    jaccard_exact_pairs / ngram_jaccard_pairs — three independent
    algorithms (cross join, LSH+verify, prefix filter) must agree on
    the identical pair set; the completeness lemma is derived in the
    operator docstring."""
    from ..functions.text import word_shingle_postings
    from ..operators._plan import spread_small_input
    from ..operators.setsim import prefix_filter_jaccard_pairs_postings

    corpus = spread_small_input(
        _docs_with_near_dups(spark, sf_dir).select("doc_id", "text")
    )
    postings = word_shingle_postings(corpus)
    return prefix_filter_jaccard_pairs_postings(postings, threshold=0.6)


# ---------------------------------------------------------------------------
# Per-group OLS trend + Poisson-bootstrap CI (exact-moment statistics
# family, next to numeric_correlations above).
# ---------------------------------------------------------------------------


def q_grouped_ols_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type value-vs-time trend line
    (operators/regression.grouped_ols): slope per day, intercept and
    R^2 of each event type's value drift across the month — the "is
    this metric trending" question every mart consumer asks next after
    the means/modes the reference marts compute
    (final-module-3/airflow/dags/build_analytical_marts.py:24-138
    stops at aggregates; this is the same single-scan shape). All five
    sufficient statistics are exact integer sums lifted to
    DECIMAL(38,0) — one scan, map-side partials, O(groups) shuffle
    rows, and the final doubles are single rounded expressions the
    oracle reproduces bit-for-bit."""
    from ..operators.regression import grouped_ols

    ev = load_table(spark, sf_dir, "events")
    kind = F.lower(F.trim(F.col("event_type")))
    base = ev.where(
        kind.isin(*_EVENT_KINDS)
        & F.col("value").isNotNull()
        & ~F.isnan("value")
        & F.col("ts").isNotNull()
    ).select(F.col("ts").cast("date").alias("day"), "value", kind.alias("event_type"))
    x = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")).cast("long")
    y = F.round(F.col("value").cast("double") * 100, 0).cast("long")
    return grouped_ols(
        base, ["event_type"], x, y, x_scale=1.0, y_scale=0.01
    ).orderBy("event_type")


def _ols_oracle() -> str:
    nd, sx, sy = "CAST(n AS DOUBLE)", "CAST(sx AS DOUBLE)", "CAST(sy AS DOUBLE)"
    sxy, sxx, syy = (
        "CAST(sxy AS DOUBLE)",
        "CAST(sxx AS DOUBLE)",
        "CAST(syy AS DOUBLE)",
    )
    cov = f"({nd} * {sxy} - {sx} * {sy})"
    varx = f"({nd} * {sxx} - {sx} * {sx})"
    vary = f"({nd} * {syy} - {sy} * {sy})"
    ys = "CAST(0.01 AS DOUBLE)"
    return f"""
WITH base AS (
  SELECT CAST(ts AS DATE) AS day, value,
         lower(trim(event_type)) AS event_type
  FROM events
  WHERE lower(trim(event_type)) IN ('view', 'click', 'purchase')
    AND value IS NOT NULL AND NOT isnan(value) AND ts IS NOT NULL
),
u AS (
  SELECT event_type,
         CAST(datediff('day', DATE '2024-01-01', day) AS BIGINT) AS ux,
         CAST(round(CAST(value AS DOUBLE) * 100) AS BIGINT) AS uy
  FROM base
),
m AS (
  SELECT event_type,
         CAST(count(*) AS BIGINT) AS n,
         sum(CAST(ux AS DECIMAL(38,0))) AS sx,
         sum(CAST(uy AS DECIMAL(38,0))) AS sy,
         sum(CAST(ux * uy AS DECIMAL(38,0))) AS sxy,
         sum(CAST(ux * ux AS DECIMAL(38,0))) AS sxx,
         sum(CAST(uy * uy AS DECIMAL(38,0))) AS syy
  FROM u GROUP BY event_type
)
SELECT event_type, n,
       CASE WHEN n >= 2 AND {varx} > 0
            THEN round({cov} / {varx} * {ys}, 6) END AS slope,
       CASE WHEN n >= 2 AND {varx} > 0
            THEN round(({sy} - {cov} / {varx} * {sx}) / {nd} * {ys}, 6)
       END AS intercept,
       CASE WHEN n >= 2 AND {varx} > 0 AND {vary} > 0
            THEN round({cov} * {cov} / ({varx} * {vary}), 6) END AS r2
FROM m
ORDER BY event_type
"""


ORACLE_GROUPED_OLS_TREND = _ols_oracle()


def q_bootstrap_ci_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~94% Poisson-bootstrap confidence interval for mean order value
    (operators/bootstrap.poisson_bootstrap_mean): 32 replica means from
    md5-derived Poisson(1) weights, all computed in ONE scan as 64
    aggregate columns — no row explosion, no reshuffle per replica, so
    the uncertainty estimate costs one pass regardless of table size.
    Every weight is deterministic (inverse CDF on an md5-uniform), so
    the oracle reproduces the full interval bit-for-bit — a
    rand()-seeded bootstrap is unauditable and non-idempotent under
    task retries."""
    from ..operators.bootstrap import poisson_bootstrap_mean

    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_totalprice").isNotNull()
    )
    y = F.round(F.col("o_totalprice").cast("double") * 100, 0).cast("long")
    return poisson_bootstrap_mean(
        orders, F.col("o_orderkey"), y, y_scale=0.01, replicas=32
    )


def _bootstrap_oracle(replicas: int = 32) -> str:
    from ..operators.bootstrap import POISSON1_CDF

    def u_sql(r: int) -> str:
        block, j = r // 4, r % 4
        off = 8 * j
        return (
            "(list_sum(list_transform(range(0,8), i -> "
            "(strpos('0123456789abcdef', substr(md5("
            f"CAST(o_orderkey AS VARCHAR) || ':{block}'), "
            f"CAST(i+{off + 1} AS INT), 1)) - 1)"
            " * (1::BIGINT << CAST(4*(7-i) AS INT)))) + 0.5) / 4294967296.0"
        )

    def w_sql(r: int) -> str:
        branches = "".join(
            f" WHEN u_{r} < {t!r} THEN {k}" for k, t in enumerate(POISSON1_CDF)
        )
        return f"CASE{branches} ELSE {len(POISSON1_CDF)} END"

    u_cols = ",\n         ".join(f"{u_sql(r)} AS u_{r}" for r in range(replicas))
    w_cols = ",\n         ".join(
        f"CAST({w_sql(r)} AS BIGINT) AS w_{r}" for r in range(replicas)
    )
    agg_cols = ",\n         ".join(
        f"sum(CAST(w_{r} * uy AS DECIMAL(38,0))) AS ws_{r},\n"
        f"         sum(CAST(w_{r} AS DECIMAL(38,0))) AS wn_{r}"
        for r in range(replicas)
    )
    means = ", ".join(
        f"round(CAST(ws_{r} AS DOUBLE) / CAST(wn_{r} AS DOUBLE)"
        " * CAST(0.01 AS DOUBLE), 6)"
        for r in range(replicas)
    )
    return f"""
WITH base AS (
  SELECT o_orderkey,
         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS uy
  FROM orders WHERE o_totalprice IS NOT NULL
),
us AS (
  SELECT uy,
         {u_cols}
  FROM base
),
ws AS (
  SELECT uy,
         {w_cols}
  FROM us
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         sum(CAST(uy AS DECIMAL(38,0))) AS sy,
         {agg_cols}
  FROM ws
)
SELECT n,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)
             * CAST(0.01 AS DOUBLE), 6) AS point_mean,
       CASE WHEN len(list_filter([{means}], x -> x IS NOT NULL)) = {replicas}
            THEN list_sort([{means}])[2] END AS ci_lo,
       CASE WHEN len(list_filter([{means}], x -> x IS NOT NULL)) = {replicas}
            THEN list_sort([{means}])[{replicas - 1}] END AS ci_hi,
       CAST({replicas} AS INT) AS n_replicas
FROM agg
"""


ORACLE_BOOTSTRAP_CI_REVENUE = _bootstrap_oracle(32)


# ---------------------------------------------------------------------------
# Calendar gap-fill + forward-fill (time-series regularization).
# ---------------------------------------------------------------------------


def q_gap_fill_user_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user daily mean value densified onto each user's own
    [first, last] calendar span with forward fill
    (operators/timeseries.gap_fill_daily): the regularization every
    charting/diff/rolling consumer of the reference's per-user marts
    (final-module-3/airflow/dags/build_analytical_marts.py:24-69)
    performs before use. Users capped at id < 25 to keep the driver
    compare bounded; the operator itself is keys x span-days, not
    row-scale. Exact half-up averages in centi-units, so gap rows
    repeat a bit-reproducible double."""
    from ..operators.timeseries import gap_fill_daily

    base = _events_base(spark, sf_dir).where(F.col("user_id") < 25)
    daily = (
        base.groupBy("user_id", "day")
        .agg(
            units_sum("value").alias("s"),
            F.count(F.lit(1)).alias("n"),
        )
        .select(
            "user_id",
            "day",
            avg_units_expr("s", "n", 2, 4).alias("day_avg"),
        )
    )
    return gap_fill_daily(daily, ["user_id"], "day", ["day_avg"]).orderBy(
        "user_id", "day"
    )


ORACLE_GAP_FILL_USER_DAILY = f"""
WITH base AS ({_ORACLE_EVENTS_BASE} AND user_id < 25),
daily AS (
  SELECT user_id, day,
         {oracle_avg_units(oracle_units_sum('value', 2), 'count(*)', 2, 4)}
           AS day_avg
  FROM base GROUP BY user_id, day
),
span AS (
  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id
),
grid AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
j AS (
  SELECT g.user_id, g.day, d.day_avg,
         d.day_avg IS NOT NULL AS is_observed
  FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND d.day = g.day
)
SELECT user_id, day,
       last_value(day_avg IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_avg,
       is_observed
FROM j
ORDER BY user_id, day
"""


# ---------------------------------------------------------------------------
# Benford first-digit screen (data-quality / fraud-signal profiling).
# ---------------------------------------------------------------------------


def q_benford_price_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-significant-digit census of order totals vs Benford's law
    (operators/profile.benford_screen): the fabricated-numbers /
    broken-ingest screen for any scale-spanning money column. Digits
    come from the centi-unit integer's decimal string (no float
    log10), observed shares are exact-integer divisions, and the
    Benford expectations are one shared 9-literal table — so the whole
    report is bit-reproducible in any engine."""
    from ..operators.profile import benford_screen

    orders = load_table(spark, sf_dir, "orders")
    return benford_screen(orders, units(F.col("o_totalprice"))).orderBy("digit")


def _benford_oracle() -> str:
    from ..operators.profile import BENFORD_PCT

    pairs = ", ".join(f"({d}, {p!r})" for d, p in sorted(BENFORD_PCT.items()))
    return f"""
WITH u AS (
  SELECT {oracle_units('o_totalprice')} AS units FROM orders
),
census AS (
  SELECT CASE WHEN units IS NOT NULL AND units > 0
              THEN CAST(substr(CAST(units AS VARCHAR), 1, 1) AS INT) END
           AS digit,
         count(*) AS n
  FROM u GROUP BY 1
),
totals AS (
  SELECT sum(CASE WHEN digit IS NOT NULL THEN n END) AS n_total,
         coalesce(sum(CASE WHEN digit IS NULL THEN n END), 0) AS n_excluded
  FROM census
),
bp(digit, benford_pct) AS (VALUES {pairs})
SELECT c.digit, CAST(c.n AS BIGINT) AS n,
       round(CAST(c.n AS DOUBLE) / CAST(t.n_total AS DOUBLE), 6)
         AS observed_pct,
       CAST(bp.benford_pct AS DOUBLE) AS benford_pct,
       round(CAST(c.n AS DOUBLE) / CAST(t.n_total AS DOUBLE)
             - CAST(bp.benford_pct AS DOUBLE), 6) AS deviation,
       CAST(t.n_excluded AS BIGINT) AS n_excluded
FROM census c CROSS JOIN totals t JOIN bp ON bp.digit = c.digit
WHERE c.digit IS NOT NULL
ORDER BY c.digit
"""


ORACLE_BENFORD_PRICE_DIGITS = _benford_oracle()


# ---------------------------------------------------------------------------
# Leakage-safe k-fold target encoding (training-feature table).
# ---------------------------------------------------------------------------


def q_target_encode_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-fold-out mean encoding of order priority against order
    total (operators/encoding.kfold_target_encode): each (category,
    fold) cell's encoding is the mean target over the OTHER folds'
    rows of that category — md5-bucketed folds, exact integer-unit
    sums, one map-side-combined partial re-aggregated two ways, and a
    broadcast global prior for single-fold categories. The bounded
    (category x fold) table a 100 TB pipeline broadcast-joins back
    onto facts."""
    from ..operators.encoding import kfold_target_encode

    orders = load_table(spark, sf_dir, "orders")
    return kfold_target_encode(
        orders.select(
            "o_orderkey", "o_orderpriority", units(F.col("o_totalprice")).alias("t")
        ),
        key_col="o_orderkey",
        cat_col="o_orderpriority",
        target_col="t",
        k=5,
    ).orderBy("category", "fold")


ORACLE_TARGET_ENCODE_PRIORITY = f"""
WITH b AS (
  SELECT o_orderpriority AS category,
         {_oracle_hash32("CAST(o_orderkey AS VARCHAR)")} % 5 AS fold,
         {oracle_units('o_totalprice')} AS t
  FROM orders
),
partial AS (
  SELECT category, fold, count(*) AS n_in_fold, sum(t) AS s_in_fold
  FROM b GROUP BY 1, 2
),
tot AS (
  SELECT category, sum(n_in_fold) AS n_cat, sum(s_in_fold) AS s_cat
  FROM partial GROUP BY 1
),
ft AS (
  SELECT fold, sum(n_in_fold) AS n_fold, sum(s_in_fold) AS s_fold
  FROM partial GROUP BY 1
),
g AS (
  SELECT sum(n_in_fold) AS n_all, sum(s_in_fold) AS s_all FROM partial
)
SELECT p.category,
       CAST(p.fold AS INT) AS fold,
       CAST(p.n_in_fold AS BIGINT) AS n_in_fold,
       CAST(t.n_cat - p.n_in_fold AS BIGINT) AS n_out,
       CASE WHEN t.n_cat - p.n_in_fold > 0
            THEN {oracle_avg_units('(t.s_cat - p.s_in_fold)', '(t.n_cat - p.n_in_fold)', 2, 2)}
            ELSE {oracle_avg_units('(g.s_all - f.s_fold)', '(g.n_all - f.n_fold)', 2, 2)}
       END AS enc,
       (t.n_cat - p.n_in_fold = 0) AS is_prior
FROM partial p
JOIN tot t ON t.category = p.category
JOIN ft f ON f.fold = p.fold
CROSS JOIN g
ORDER BY p.category, p.fold
"""
