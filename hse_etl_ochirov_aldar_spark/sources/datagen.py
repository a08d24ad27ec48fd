"""Deterministic synthetic data generator (SURVEY.md S13).

The reference seeds Mongo with 5 collections — user_sessions (+50
deliberate dupes), event_logs (+100 dupes), support_tickets (nested
messages), user_recommendations, moderation_queue
(seed_mongo.py:108-250) — using driver-side random loops.

Spark-first: ``spark.range(n)`` + deterministic column expressions —
generation is distributed and reproducible (every value is a pure
function of the row id, no RNG state). Duplicate injection =
``unionByName(df.limit(k))``, the engine-level analogue of the
reference re-inserting the first k documents (seed_mongo.py:130-133).

At 100 TB this pattern generates data at full cluster parallelism with
zero driver involvement.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

PAGES = ["home", "catalog", "product", "cart", "checkout", "profile",
         "search", "wishlist", "support", "blog", "deals"]
ACTIONS = ["click", "scroll", "add_to_cart", "remove_from_cart",
           "search", "filter", "review", "share"]
DEVICES = ["mobile", "desktop", "tablet"]
EVENT_TYPES = ["page_view", "click", "login", "logout", "purchase",
               "error", "search"]
STATUSES = ["open", "in_progress", "resolved", "closed"]
ISSUE_TYPES = ["billing", "technical", "account", "delivery",
               "product", "other"]


def _pick(options: list[str], key) -> F.Column:
    """Deterministic pseudo-random choice keyed by an integer column."""
    arr = F.array(*[F.lit(o) for o in options])
    return F.element_at(arr, (F.pmod(key, F.lit(len(options))) + 1).cast("int"))


def _pick_subset(options: list[str], key, max_n: int) -> F.Column:
    """Deterministic 1..max_n-element subset (ordered, no repeats)."""
    n = (F.pmod(key, F.lit(max_n)) + 1).cast("int")
    start = F.pmod(key * 7 + 3, F.lit(len(options))).cast("int")
    arr = F.array(*[F.lit(o) for o in options])
    rotated = F.concat(F.slice(arr, start + 1, len(options)), F.slice(arr, 1, start))
    return F.slice(rotated, 1, n)


def gen_user_sessions(
    spark: SparkSession, n: int = 2000, n_dupes: int = 50, n_users: int = 200
) -> DataFrame:
    """user_sessions: nested arrays + deliberate dupes + anomalies.

    ~2% of rows get end_time < start_time and ~2% get >24h durations —
    the anomaly-injection analogue for P5 filter testing.
    """
    base = spark.range(n).select(
        F.format_string("sess_%05d", F.col("id")).alias("session_id"),
        F.format_string("user_%03d", F.pmod(F.col("id") * 13 + 7, F.lit(n_users))).alias("user_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.col("id") * 997, F.lit(180 * 86400))
        ).alias("start_time"),
        F.col("id").alias("_i"),
    )
    dur_min = F.pmod(F.col("_i") * 31 + 1, F.lit(120)) + 1
    anomaly_neg = F.pmod(F.col("_i"), F.lit(50)) == 17      # end < start
    anomaly_long = F.pmod(F.col("_i"), F.lit(50)) == 33     # > 24 h
    end = (
        F.when(anomaly_neg, F.col("start_time") - F.expr("INTERVAL 10 MINUTES"))
        .when(anomaly_long, F.col("start_time") + F.expr("INTERVAL 30 HOURS"))
        .otherwise(F.col("start_time") + F.make_dt_interval(mins=dur_min))
    )
    df = base.select(
        "session_id",
        "user_id",
        "start_time",
        end.alias("end_time"),
        _pick_subset(PAGES, F.col("_i") * 3 + 1, 8).alias("pages_visited"),
        _pick(DEVICES, F.col("_i") * 5 + 2).alias("device"),
        _pick_subset(ACTIONS, F.col("_i") * 11 + 5, 6).alias("actions"),
    )
    return df.unionByName(df.limit(n_dupes))


def gen_event_logs(spark: SparkSession, n: int = 5000, n_dupes: int = 100,
                   n_users: int = 200) -> DataFrame:
    """event_logs: nested struct with ~70%-null extra (seed_mongo.py:148)."""
    base = spark.range(n).select(
        F.format_string("evt_%05d", F.col("id")).alias("event_id"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.col("id") * 1013, F.lit(180 * 86400))
        ).alias("timestamp"),
        _pick(EVENT_TYPES, F.col("id") * 3 + 1).alias("event_type"),
        F.struct(
            _pick(PAGES, F.col("id") * 7 + 2).alias("page"),
            F.format_string("user_%03d", F.pmod(F.col("id") * 17 + 3, F.lit(n_users))).alias("user_id"),
            F.when(
                F.pmod(F.col("id"), F.lit(10)) < 3,
                F.struct(F.pmod(F.col("id"), F.lit(500)).cast("int").alias("error_code")),
            ).alias("extra"),
        ).alias("details"),
    )
    return base.unionByName(base.limit(n_dupes))


def gen_support_tickets(spark: SparkSession, n: int = 600, n_users: int = 200) -> DataFrame:
    """support_tickets: nested message arrays; ~2% created>updated anomalies."""
    base = spark.range(n).select(
        F.format_string("ticket_%04d", F.col("id")).alias("ticket_id"),
        F.format_string("user_%03d", F.pmod(F.col("id") * 19 + 11, F.lit(n_users))).alias("user_id"),
        _pick(STATUSES, F.col("id") * 3 + 2).alias("status"),
        _pick(ISSUE_TYPES, F.col("id") * 5 + 1).alias("issue_type"),
        F.timestamp_seconds(
            F.lit(1704067200) + F.pmod(F.col("id") * 1201, F.lit(180 * 86400))
        ).alias("created_at"),
        F.col("id").alias("_i"),
    )
    n_msgs = (F.pmod(F.col("_i"), F.lit(5)) + 1).cast("int")
    messages = F.transform(
        F.sequence(F.lit(1), n_msgs),
        lambda i: F.struct(
            F.when(i % 2 == 1, F.lit("user")).otherwise(F.lit("support")).alias("sender"),
            F.concat(F.lit("message "), i.cast("string")).alias("message"),
            (F.col("created_at") + F.make_dt_interval(mins=i * 30)).alias("timestamp"),
        ),
    )
    anomaly = F.pmod(F.col("_i"), F.lit(50)) == 13
    updated = F.when(
        anomaly, F.col("created_at") - F.expr("INTERVAL 1 HOUR")
    ).otherwise(F.col("created_at") + F.make_dt_interval(mins=F.pmod(F.col("_i") * 37, F.lit(10080)) + 10))
    return base.select(
        "ticket_id", "user_id", "status", "issue_type",
        messages.alias("messages"),
        "created_at",
        updated.alias("updated_at"),
    )


MODERATION_STATUSES = ["pending", "approved", "rejected"]
FLAGS = [
    "contains_images", "suspicious_language", "short_text",
    "verified_purchase", "first_review",
]
REVIEW_TEXTS = [
    "great product", "did not work as expected", "would buy again",
    "arrived broken", "average quality for the price",
]


def gen_user_recommendations(
    spark: SparkSession, n_users: int = 200, n_products: int = 50
) -> DataFrame:
    """user_recommendations: one doc per user, 2-8 recommended product
    ids, ISO+Z last_updated (seed_mongo.py:204-224)."""
    product_pool = [f"prod_{i:03d}" for i in range(n_products)]
    base = spark.range(n_users).select(
        F.format_string("user_%03d", F.col("id")).alias("user_id"),
        F.col("id").alias("_i"),
    )
    n_prods = (F.pmod(F.col("_i") * 13 + 5, F.lit(7)) + 2).cast("int")  # 2..8
    start = F.pmod(F.col("_i") * 11 + 1, F.lit(n_products)).cast("int")
    arr = F.array(*[F.lit(p) for p in product_pool])
    rotated = F.concat(
        F.slice(arr, start + 1, n_products), F.slice(arr, 1, start)
    )
    last_updated = F.timestamp_seconds(
        F.lit(1714521600) + F.pmod(F.col("_i") * 977, F.lit(60 * 86400))
    )
    return base.select(
        "user_id",
        F.slice(rotated, 1, n_prods).alias("recommended_products"),
        F.concat(
            F.date_format(last_updated, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")
        ).alias("last_updated"),
    )


def gen_moderation_queue(
    spark: SparkSession, n: int = 800, n_users: int = 200, n_products: int = 50
) -> DataFrame:
    """moderation_queue: reviews with rating 1-5 (the CHECK domain),
    0-2 flags, ISO+Z submitted_at (seed_mongo.py:227-250)."""
    base = spark.range(n).select(
        F.format_string("rev_%04d", F.col("id") + 1).alias("review_id"),
        F.format_string(
            "user_%03d", F.pmod(F.col("id") * 23 + 7, F.lit(n_users))
        ).alias("user_id"),
        F.format_string(
            "prod_%03d", F.pmod(F.col("id") * 29 + 3, F.lit(n_products))
        ).alias("product_id"),
        _pick(REVIEW_TEXTS, F.col("id") * 3 + 2).alias("review_text"),
        (F.pmod(F.col("id") * 7 + 1, F.lit(5)) + 1).cast("int").alias("rating"),
        _pick(MODERATION_STATUSES, F.col("id") * 5 + 4).alias("moderation_status"),
        F.col("id").alias("_i"),
    )
    n_flags = F.pmod(F.col("_i") * 3 + 1, F.lit(3)).cast("int")  # 0..2
    flags = F.slice(_pick_subset(FLAGS, F.col("_i") * 31 + 9, 5), 1, n_flags)
    submitted = F.timestamp_seconds(
        F.lit(1704067200) + F.pmod(F.col("_i") * 1423, F.lit(180 * 86400))
    )
    return base.select(
        "review_id",
        "user_id",
        "product_id",
        "review_text",
        "rating",
        "moderation_status",
        flags.alias("flags"),
        F.concat(
            F.date_format(submitted, "yyyy-MM-dd'T'HH:mm:ss"), F.lit("Z")
        ).alias("submitted_at"),
    )
