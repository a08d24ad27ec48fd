"""medallion_refresh: the reference's full raw -> clean -> mart refresh.

One operation reads the Mongo-export landing files, deduplicates them
into the raw layer, cleans them into month-partitioned tables and
builds the marts, then runs the quality gates. Each step reads the
layer the previous step wrote, as the reference DAG does. The marts
are checked against DuckDB run over the same landing files.
"""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DateType,
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from hse_etl_ochirov_aldar_spark.functions.cleaning import month_of
from hse_etl_ochirov_aldar_spark.operators.aggregates import daily_avg
from hse_etl_ochirov_aldar_spark.operators.dedup import dedup_keep_first
from hse_etl_ochirov_aldar_spark.operators.percentile import percentile_trim
from hse_etl_ochirov_aldar_spark.operators.topk import topk_extremes
from hse_etl_ochirov_aldar_spark.plans import quality
from hse_etl_ochirov_aldar_spark.plans.reference_pipelines import (
    mart_support_efficiency,
    mart_user_activity,
    replicate_events,
    replicate_sessions,
    sessions_clean,
    tickets_clean,
)
from hse_etl_ochirov_aldar_spark.sources.connectors import read_mongo_export
from hse_etl_ochirov_aldar_spark.sources.sinks import write_overwrite, write_partitioned

from ..gen import MedallionSize, dir_bytes, gen_medallion
from . import compare_rows, percentile_bounds_sql

NAME = "medallion_refresh"
SPANS = (
    "plans.reference_pipelines.replicate",
    "plans.reference_pipelines.clean",
    "plans.reference_pipelines.mart_user_activity",
    "plans.reference_pipelines.mart_support_efficiency",
    "operators.aggregates.daily_avg",
    "plans.quality.gates",
)

_S = StringType()
SESSIONS = StructType([
    StructField("session_id", _S), StructField("user_id", _S),
    StructField("start_time", TimestampType()), StructField("end_time", TimestampType()),
    StructField("pages_visited", ArrayType(_S)), StructField("device", _S),
    StructField("actions", ArrayType(_S)),
])
EVENTS = StructType([
    StructField("event_id", _S), StructField("timestamp", TimestampType()),
    StructField("event_type", _S),
    StructField("details", StructType([
        StructField("page", _S), StructField("user_id", _S),
        StructField("extra", StructType([StructField("error_code", IntegerType())])),
    ])),
])
TICKETS = StructType([
    StructField("ticket_id", _S), StructField("user_id", _S),
    StructField("status", _S), StructField("issue_type", _S),
    StructField("messages", ArrayType(StructType([
        StructField("sender", _S), StructField("message", _S),
        StructField("timestamp", TimestampType()),
    ]))),
    StructField("created_at", TimestampType()), StructField("updated_at", TimestampType()),
])
READINGS = StructType([
    StructField("reading_id", _S), StructField("device_id", _S),
    StructField("ts", TimestampType()), StructField("temperature", DoubleType()),
])
# The reference's dedup-at-source pipeline (mongo_to_postgres_replication
# $sort + $group/$first), run over the export by read_mongo_export.
TICKET_PIPELINE = [
    {"$sort": {"updated_at": 1}},
    {"$group": {"_id": "$ticket_id", **{
        f.name: {"$first": f"${f.name}"} for f in TICKETS.fields if f.name != "ticket_id"
    }}},
]


class Workload:
    check_every_op = True
    exhausted = False
    warmup_ops = 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.landing = f"{work}/landing"
        self.out = f"{work}/lake"
        inputs = gen_medallion(self.landing, seed, MedallionSize())
        self.rows = inputs.rows
        self.input_bytes = inputs.bytes
        self._expected: dict | None = None

    def run_op(self, tracer) -> int:
        spark, land, raw = self.spark, self.landing, f"{self.out}/raw"
        clean, marts = f"{self.out}/clean", f"{self.out}/marts"
        with tracer.span("plans.reference_pipelines.replicate"):
            write_overwrite(
                replicate_sessions(read_mongo_export(spark, f"{land}/user_sessions", SESSIONS)),
                f"{raw}/user_sessions")
            write_overwrite(
                replicate_events(read_mongo_export(spark, f"{land}/event_logs", EVENTS)),
                f"{raw}/event_logs")
            write_overwrite(
                read_mongo_export(spark, f"{land}/support_tickets", TICKETS,
                                  pipeline=TICKET_PIPELINE)
                .withColumnRenamed("_id", "ticket_id"),
                f"{raw}/support_tickets")
            write_overwrite(
                dedup_keep_first(read_mongo_export(spark, f"{land}/iot_readings", READINGS),
                                 ["reading_id"], ["ts"]),
                f"{raw}/iot_readings")
        with tracer.span("plans.reference_pipelines.clean"):
            sessions = sessions_clean(spark.read.parquet(f"{raw}/user_sessions"))
            write_partitioned(sessions.withColumn("month", month_of("session_date")),
                              f"{clean}/sessions", "month")
            tickets = tickets_clean(spark.read.parquet(f"{raw}/support_tickets"))
            write_partitioned(tickets.withColumn("month", month_of("created_at")),
                              f"{clean}/tickets", "month")
            readings = spark.read.parquet(f"{raw}/iot_readings").withColumn(
                "day", F.to_date("ts"))
            write_partitioned(percentile_trim(readings, "temperature")
                              .withColumn("month", month_of("day")),
                              f"{clean}/readings", "month")
        with tracer.span("plans.reference_pipelines.mart_user_activity"):
            write_overwrite(mart_user_activity(spark.read.parquet(f"{clean}/sessions")),
                            f"{marts}/user_activity")
        with tracer.span("plans.reference_pipelines.mart_support_efficiency"):
            write_overwrite(mart_support_efficiency(spark.read.parquet(f"{clean}/tickets")),
                            f"{marts}/support_efficiency")
        with tracer.span("operators.aggregates.daily_avg"):
            write_overwrite(daily_avg(spark.read.parquet(f"{clean}/readings"),
                                      "day", "temperature"), f"{marts}/daily_avg")
            write_overwrite(topk_extremes(spark.read.parquet(f"{marts}/daily_avg"),
                                          "avg_value", "day", 5), f"{marts}/topk")
        with tracer.span("plans.quality.gates"):
            quality.expect_unique_key(spark.read.parquet(f"{raw}/user_sessions"),
                                      ["session_id"], "raw.user_sessions")
            quality.expect_check(spark.read.parquet(f"{clean}/sessions"),
                                 F.col("duration_min").between(0, 1440),
                                 "clean.sessions.duration")
            ua = spark.read.parquet(f"{marts}/user_activity")
            quality.expect_nonempty(ua, "marts.user_activity")
            quality.expect_unique_key(ua, ["user_id", "report_month"], "marts.user_activity")
            quality.expect_nonempty(spark.read.parquet(f"{marts}/support_efficiency"),
                                    "marts.support_efficiency")
        return self.rows

    def trace_extras(self, tracer) -> dict:
        return {}

    def after_op(self) -> None:
        pass

    def stored_bytes(self) -> int:
        return dir_bytes(self.out)

    # --- correctness gate (DuckDB over the same landing files) -------------

    def check(self) -> list[str]:
        con = duckdb.connect()
        try:
            if self._expected is None:
                self._expected = _oracle(con, self.landing)
            marts = f"{self.out}/marts"
            got = {
                name: con.sql(f"SELECT {cols} FROM read_parquet('{marts}/{name}/*.parquet')")
                .fetchall()
                for name, (cols, _) in _MARTS.items()
            }
        finally:
            con.close()
        return [
            f"{name}: {msg}"
            for name in _MARTS
            if (msg := compare_rows(got[name], self._expected[name]))
        ]


_TS = "strptime({c}, '%Y-%m-%dT%H:%M:%SZ')"


def _avg_units(s: str, n: str) -> str:
    # half-up average of a 2-dp unit sum, as functions/exact.avg_units_expr
    return f"CAST((2 * {s} * 100 + {n} * 100) // (2 * {n} * 100) AS DOUBLE) / 100.0"


def _mode(src: str, value: str, out: str) -> str:
    return f"""(SELECT user_id, report_month, {value} AS {out} FROM
        (SELECT user_id, report_month, {value}, count(*) AS c FROM {src} GROUP BY ALL)
        QUALIFY row_number() OVER (PARTITION BY user_id, report_month
                                   ORDER BY c DESC, {value} ASC) = 1)"""


_MARTS = {
    "user_activity": (
        "user_id, report_month, total_sessions, total_duration_min, avg_duration_min, "
        "total_pages, total_actions, top_device, top_page, top_action",
        f"""
        WITH raw AS (
          SELECT * FROM read_json('{{L}}/user_sessions/*.json', format='newline_delimited',
            columns={{session_id:'VARCHAR', user_id:'VARCHAR', start_time:'VARCHAR',
                     end_time:'VARCHAR', pages_visited:'VARCHAR[]', device:'VARCHAR',
                     actions:'VARCHAR[]'}})),
        s AS (SELECT session_id, user_id, {_TS.format(c='start_time')} AS st,
                     {_TS.format(c='end_time')} AS et, pages_visited, device, actions FROM raw
              QUALIFY row_number() OVER (PARTITION BY session_id ORDER BY st, user_id) = 1),
        m AS (SELECT user_id, device, pages_visited, actions,
                CAST(date_trunc('month', CAST(st AS DATE)) AS DATE) AS report_month,
                round((epoch_ms(et) - epoch_ms(st)) / 1000 / 60.0, 2) AS duration_min,
                coalesce(len(pages_visited), 0) AS num_pages,
                coalesce(len(actions), 0) AS num_actions
              FROM s WHERE st < et AND (epoch_ms(et) - epoch_ms(st)) / 1000 < 86400),
        stats AS (SELECT user_id, report_month, count(*) AS total_sessions,
                    sum(CAST(round(duration_min * 100) AS BIGINT)) AS s_dur,
                    sum(num_pages) AS total_pages, sum(num_actions) AS total_actions
                  FROM m GROUP BY ALL),
        pages AS (SELECT user_id, report_month, unnest(pages_visited) AS page FROM m),
        acts AS (SELECT user_id, report_month, unnest(actions) AS act FROM m)
        SELECT st.user_id, st.report_month, total_sessions,
               CAST(s_dur AS DOUBLE) / 100.0, {_avg_units('s_dur', 'total_sessions')},
               total_pages, total_actions, top_device, top_page, top_action
        FROM stats st
        LEFT JOIN {_mode('m', 'device', 'top_device')} USING (user_id, report_month)
        LEFT JOIN {_mode('pages', 'page', 'top_page')} USING (user_id, report_month)
        LEFT JOIN {_mode('acts', 'act', 'top_action')} USING (user_id, report_month)
        """,
    ),
    "support_efficiency": (
        "report_month, issue_type, total_tickets, n_open, n_in_progress, n_resolved, "
        "n_closed, min_resolution_hours, avg_resolution_hours, max_resolution_hours",
        f"""
        WITH t AS (
          SELECT DISTINCT ticket_id, status, issue_type,
                 {_TS.format(c='created_at')} AS ca, {_TS.format(c='updated_at')} AS ua
          FROM read_json('{{L}}/support_tickets/*.json', format='newline_delimited',
            columns={{ticket_id:'VARCHAR', status:'VARCHAR', issue_type:'VARCHAR',
                     created_at:'VARCHAR', updated_at:'VARCHAR'}})),
        c AS (SELECT *, CAST(date_trunc('month', ca) AS DATE) AS report_month,
                round((epoch_ms(ua) - epoch_ms(ca)) / 1000 / 3600.0, 2) AS rh
              FROM t WHERE ca <= ua)
        SELECT report_month, issue_type, count(*) AS n,
               count(*) FILTER (WHERE status = 'open'),
               count(*) FILTER (WHERE status = 'in_progress'),
               count(*) FILTER (WHERE status = 'resolved'),
               count(*) FILTER (WHERE status = 'closed'),
               min(rh), {_avg_units('sum(CAST(round(rh * 100) AS BIGINT))', 'count(*)')},
               max(rh)
        FROM c GROUP BY ALL
        """,
    ),
    "daily_avg": (
        "day, avg_value, n_readings",
        """
        WITH r AS (
          SELECT DISTINCT reading_id, CAST(strptime(ts, '%Y-%m-%dT%H:%M:%SZ') AS DATE) AS day,
                 temperature
          FROM read_json('{L}/iot_readings/*.json', format='newline_delimited',
            columns={reading_id:'VARCHAR', ts:'VARCHAR', temperature:'DOUBLE'})),
        b AS (""" + percentile_bounds_sql("r", "temperature") + """),
        d AS (SELECT day, sum(CAST(round(temperature * 100) AS BIGINT)) AS s, count(*) AS n
              FROM r, b WHERE temperature BETWEEN lo AND hi GROUP BY day)
        SELECT day, """ + _avg_units("s", "n") + """, n FROM d
        """,
    ),
}
_MARTS["topk"] = ("day, avg_value, n_readings, rank, kind", None)


def _oracle(con, landing: str) -> dict[str, list[tuple]]:
    out = {}
    for name in ("user_activity", "support_efficiency", "daily_avg"):
        out[name] = con.sql(_MARTS[name][1].replace("{L}", landing)).fetchall()
    con.execute("CREATE TEMP TABLE daily(day DATE, avg_value DOUBLE, n_readings BIGINT)")
    con.executemany("INSERT INTO daily VALUES (?, ?, ?)", out["daily_avg"])
    out["topk"] = con.sql("""
        SELECT day, avg_value, n_readings, rank, kind FROM (
          SELECT *, row_number() OVER (ORDER BY avg_value DESC, day ASC) AS rank,
                 'hot' AS kind FROM daily
          UNION ALL
          SELECT *, row_number() OVER (ORDER BY avg_value ASC, day ASC), 'cold' FROM daily)
        WHERE rank <= 5
    """).fetchall()
    return out
