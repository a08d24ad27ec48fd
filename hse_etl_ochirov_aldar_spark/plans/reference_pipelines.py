"""Reference-native pipelines on reference-shaped schemas.

The query catalog (queries.py) re-hosts the reference's operators onto
the driver's TPC-H-ish testdata for oracle checking. This module is the
other half of parity: the SAME pipelines expressed on the reference's
own document schemas (user_sessions / event_logs / support_tickets as
Mongo-export JSON lines, read by sources.connectors.read_mongo_export),
end-to-end:

    replicate (dedup at source, A6/S6)
      -> clean (derived cols + anomaly filters, P5-P7, F5-F7)
      -> marts (A3-A5, A7, J2, J3)

Mirrors final-module-3/airflow/dags/mongo_to_postgres_replication.py
(:35-39 dedup, :218-237 sessions clean, :254-269 tickets clean) and
build_analytical_marts.py (:28-92 user activity, :102-124 support
efficiency).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.cleaning import (
    epoch_diff_hours,
    epoch_diff_minutes,
    month_of,
    safe_array_size,
)
from ..functions.exact import avg_units_expr, units_sum
from ..operators.aggregates import conditional_count, mode_by_group
from ..operators.dedup import dedup_keep_first


def replicate_sessions(raw: DataFrame) -> DataFrame:
    """A6: one doc per session_id (deterministic keep-first by start)."""
    return dedup_keep_first(raw, ["session_id"], ["start_time", "user_id"])


def replicate_events(raw: DataFrame) -> DataFrame:
    """A6 + F9: dedup by event_id, flatten nested details struct
    (null-safe struct access — mongo_to_postgres_replication.py:92-97)."""
    deduped = dedup_keep_first(raw, ["event_id"], ["timestamp"])
    return deduped.select(
        "event_id",
        "timestamp",
        "event_type",
        F.col("details.page").alias("page"),
        F.col("details.user_id").alias("user_id"),
        F.col("details.extra.error_code").alias("error_code"),
    )


def sessions_clean(sessions: DataFrame) -> DataFrame:
    """P1 + F5/F7 + P5: derived duration/num_pages/num_actions, anomaly
    filters (start < end, duration < 24h)
    (mongo_to_postgres_replication.py:218-237)."""
    return (
        sessions.select(
            "session_id",
            "user_id",
            "start_time",
            "end_time",
            F.col("start_time").cast("date").alias("session_date"),
            epoch_diff_minutes("end_time", "start_time").alias("duration_min"),
            safe_array_size("pages_visited").alias("num_pages"),
            safe_array_size("actions").alias("num_actions"),
            "pages_visited",
            "actions",
            "device",
        )
        .where(
            (F.col("start_time") < F.col("end_time"))
            & (
                (F.unix_timestamp("end_time") - F.unix_timestamp("start_time"))
                < 24 * 3600
            )
        )
    )


def tickets_clean(tickets: DataFrame) -> DataFrame:
    """F5 + A8 + P6: resolution_hours, message_count, monotonicity filter
    (mongo_to_postgres_replication.py:254-269)."""
    return (
        tickets.select(
            "ticket_id",
            "user_id",
            "status",
            "issue_type",
            safe_array_size("messages").alias("message_count"),
            "created_at",
            "updated_at",
            epoch_diff_hours("updated_at", "created_at").alias("resolution_hours"),
        )
        .where(F.col("created_at") <= F.col("updated_at"))
    )


def mart_user_activity(clean: DataFrame) -> DataFrame:
    """build_analytical_marts.py:28-92 — per user-month metrics + per-group
    modes of device (direct), page and action (via J3 explode)."""
    monthly = clean.withColumn("report_month", month_of("session_date"))
    stats = (
        monthly.groupBy("user_id", "report_month")
        .agg(
            F.count(F.lit(1)).alias("total_sessions"),
            units_sum("duration_min").alias("_s_dur"),
            F.sum("num_pages").alias("total_pages"),
            F.sum("num_actions").alias("total_actions"),
        )
        .select(
            "user_id",
            "report_month",
            "total_sessions",
            (F.col("_s_dur").cast("double") / 100.0).alias("total_duration_min"),
            avg_units_expr("_s_dur", "total_sessions", 2, 2).alias("avg_duration_min"),
            "total_pages",
            "total_actions",
        )
    )
    top_device = mode_by_group(monthly, ["user_id", "report_month"], "device", "top_device")
    # Tag-union the page/action mode branches into ONE Generate and one
    # count+window pass: each session contributes ('page', p) and
    # ('act', a) rows through a single explode, the counts group on
    # (user, month, kind, value), and one window ranks within
    # (user, month, kind). The naive form scanned + exploded + shuffled
    # + window-sorted the sessions TWICE and joined two mode branches
    # back; this halves those stages while computing identical modes
    # (per-kind counts are disjoint, so ranking within kind is
    # unchanged). Pivot back to columns via the max-of-one-row trick.
    # concat is NULL if any input is, so a NULL array tags as empty: a
    # session without pages still counts its actions, and vice versa.
    def tag(col: str, kind: str) -> F.Column:
        return F.transform(
            F.coalesce(F.col(col), F.array()),
            lambda v: F.struct(F.lit(kind).alias("kind"), v.alias("value")),
        )

    tagged = monthly.select(
        "user_id",
        "report_month",
        F.explode(F.concat(tag("pages_visited", "page"), tag("actions", "act"))).alias("kv"),
    ).select("user_id", "report_month", "kv.kind", "kv.value")
    counted = tagged.groupBy("user_id", "report_month", "kind", "value").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # Sort-free per-kind mode: min(struct(-cnt, value)) reproduces the
    # window rank's cnt DESC / value ASC tie-break (struct ordering is
    # lexicographic field-by-field) as a partial-agg'd HashAggregate —
    # no Exchange+Sort+Window (PERF.md finding 18; same shape as
    # mode_by_group and the catalog mart branches).
    mode_struct = F.struct(
        (-F.col("cnt")).alias("_neg_cnt"), F.col("value").alias("v")
    )
    top_kv = counted.groupBy("user_id", "report_month").agg(
        F.min(F.when(F.col("kind") == "page", mode_struct))["v"].alias("top_page"),
        F.min(F.when(F.col("kind") == "act", mode_struct))["v"].alias("top_action"),
    )
    return (
        stats.join(top_device, ["user_id", "report_month"], "left")
        .join(top_kv, ["user_id", "report_month"], "left")
    )


def mart_support_efficiency(clean: DataFrame) -> DataFrame:
    """build_analytical_marts.py:102-124 — FILTER counts by status +
    resolution-hour stats per month x issue_type."""
    return (
        clean.withColumn("report_month", month_of("created_at"))
        .groupBy("report_month", "issue_type")
        .agg(
            F.count(F.lit(1)).alias("total_tickets"),
            conditional_count(F.col("status") == "open").alias("n_open"),
            conditional_count(F.col("status") == "in_progress").alias("n_in_progress"),
            conditional_count(F.col("status") == "resolved").alias("n_resolved"),
            conditional_count(F.col("status") == "closed").alias("n_closed"),
            F.min("resolution_hours").alias("min_resolution_hours"),
            units_sum("resolution_hours").alias("_s_res"),
            F.max("resolution_hours").alias("max_resolution_hours"),
        )
        .select(
            "report_month",
            "issue_type",
            "total_tickets",
            "n_open",
            "n_in_progress",
            "n_resolved",
            "n_closed",
            "min_resolution_hours",
            avg_units_expr("_s_res", "total_tickets", 2, 2).alias("avg_resolution_hours"),
            "max_resolution_hours",
        )
        .orderBy("report_month", "issue_type")
    )
