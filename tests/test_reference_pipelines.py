"""End-to-end reference-parity pipeline on reference-shaped data,
asserting the reference's own invariants (SURVEY.md §5): dedup restores
exact base counts, anomaly filters drop the injected anomalies, mode
joins preserve cardinality, validation gates fire.

The input is the benchmark's Mongo-export generator at a small size,
read with ``read_mongo_export`` as the medallion workload reads it; the
expected counts come from DuckDB over the same JSON lines."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.plans.quality import (
    QualityError,
    expect_check,
    expect_nonempty,
    expect_unique_key,
)
from hse_etl_ochirov_aldar_spark.plans.reference_pipelines import (
    mart_support_efficiency,
    mart_user_activity,
    replicate_events,
    replicate_sessions,
    sessions_clean,
    tickets_clean,
)
from hse_etl_ochirov_aldar_spark.sources.connectors import read_mongo_export
from perfbench.gen import MedallionSize, gen_medallion
from perfbench.workloads import compare_rows
from perfbench.workloads.medallion import (
    _MARTS,
    EVENTS,
    SESSIONS,
    TICKET_PIPELINE,
    TICKETS,
)

SIZE = MedallionSize(
    sessions=500, events=800, tickets=200, readings=10, users=60, dup_share=0.04
)


@pytest.fixture(scope="module")
def landing(tmp_path_factory):
    root = tmp_path_factory.mktemp("medallion") / "landing"
    gen_medallion(str(root), seed=1, size=SIZE)
    return str(root)


@pytest.fixture(scope="module")
def data(spark, landing):
    return {
        "sessions": read_mongo_export(spark, f"{landing}/user_sessions", SESSIONS),
        "events": read_mongo_export(spark, f"{landing}/event_logs", EVENTS),
        "tickets": read_mongo_export(
            spark, f"{landing}/support_tickets", TICKETS, pipeline=TICKET_PIPELINE
        ).withColumnRenamed("_id", "ticket_id"),
    }


def _duck(landing: str, sql: str):
    """The one value of a DuckDB query over the landing collections,
    each a view named after its collection."""
    con = duckdb.connect()
    for name in ("user_sessions", "event_logs", "support_tickets"):
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_json('{landing}/{name}/*.json', format='newline_delimited')"
        )
    try:
        return con.sql(sql).fetchone()[0]
    finally:
        con.close()


def _ts(col: str) -> str:
    return f"CAST({col} AS TIMESTAMP)"


def test_dedup_restores_base_counts(spark, data, landing):
    # the reference's core expected-output test: exact base counts
    # after dedup of deliberately seeded duplicates (README.md:21-25)
    n_sessions = _duck(landing, "SELECT count(DISTINCT session_id) FROM user_sessions")
    n_events = _duck(landing, "SELECT count(DISTINCT event_id) FROM event_logs")
    assert data["sessions"].count() == _duck(landing, "SELECT count(*) FROM user_sessions")
    assert data["sessions"].count() > n_sessions  # duplicates were planted
    assert replicate_sessions(data["sessions"]).count() == n_sessions
    assert data["events"].count() == _duck(landing, "SELECT count(*) FROM event_logs")
    assert data["events"].count() > n_events
    assert replicate_events(data["events"]).count() == n_events


def test_event_flatten_nested_struct(spark, data, landing):
    ev = replicate_events(data["events"])
    assert {"event_id", "timestamp", "event_type", "page", "user_id", "error_code"} == set(ev.columns)
    # extra is absent ~70% of the time -> error_code mostly null, some set
    n = ev.count()
    n_err = ev.where(F.col("error_code").isNotNull()).count()
    assert 0 < n_err < n
    assert n_err == _duck(
        landing,
        "SELECT count(DISTINCT event_id) FROM event_logs "
        "WHERE details.extra.error_code IS NOT NULL",
    )


def test_sessions_clean_drops_anomalies(spark, data, landing):
    deduped = replicate_sessions(data["sessions"])
    clean = sessions_clean(deduped)
    st, et = _ts("start_time"), _ts("end_time")
    kept, dropped = (
        _duck(
            landing,
            f"SELECT count(DISTINCT session_id) FILTER (WHERE {ok}) FROM user_sessions",
        )
        for ok in (
            f"{st} < {et} AND epoch({et}) - epoch({st}) < 86400",
            f"NOT ({st} < {et} AND epoch({et}) - epoch({st}) < 86400)",
        )
    )
    # the generator plants end < start and > 24h sessions; exactly
    # those are dropped
    assert dropped > 0
    assert clean.count() == kept == deduped.count() - dropped
    assert clean.where(F.col("duration_min") <= 0).count() == 0
    assert clean.where(F.col("duration_min") >= 24 * 60).count() == 0


def test_tickets_clean_monotonicity(spark, data, landing):
    clean = tickets_clean(data["tickets"])
    dropped = _duck(
        landing,
        "SELECT count(DISTINCT ticket_id) FROM support_tickets "
        f"WHERE {_ts('created_at')} > {_ts('updated_at')}",
    )
    assert dropped > 0  # the generator plants updated < created
    assert clean.count() == data["tickets"].count() - dropped
    assert clean.where(F.col("resolution_hours") < 0).count() == 0
    assert clean.where(F.col("message_count") <= 0).count() == 0


def test_mart_user_activity_cardinality(spark, data, landing):
    clean = sessions_clean(replicate_sessions(data["sessions"]))
    mart = mart_user_activity(clean)
    groups = clean.select(
        "user_id", F.date_trunc("month", "session_date").cast("date").alias("m")
    ).distinct().count()
    # mode left-joins must never change the stats cardinality (SURVEY §5)
    assert mart.count() == groups
    # every group has a top device/page/action (clean rows always have arrays)
    assert mart.where(F.col("top_device").isNull()).count() == 0
    assert mart.where(F.col("top_page").isNull()).count() == 0
    cols, oracle = _MARTS["user_activity"]
    got = [tuple(r) for r in mart.select(*cols.split(", ")).collect()]
    want = duckdb.sql(oracle.replace("{L}", landing)).fetchall()
    assert compare_rows(got, want) is None, compare_rows(got, want)


def test_mart_support_efficiency_counts(spark, data):
    clean = tickets_clean(data["tickets"])
    mart = mart_support_efficiency(clean)
    row_sum = mart.agg(F.sum("total_tickets")).collect()[0][0]
    assert row_sum == clean.count()
    parts = mart.select(
        (F.col("n_open") + F.col("n_in_progress") + F.col("n_resolved") + F.col("n_closed")).alias("s"),
        "total_tickets",
    )
    assert parts.where(F.col("s") != F.col("total_tickets")).count() == 0


def test_quality_gates(spark, data):
    clean = tickets_clean(data["tickets"])
    expect_nonempty(clean, "tickets_clean")
    expect_unique_key(clean, ["ticket_id"], "tickets_pk")
    expect_check(clean, F.col("message_count").between(1, 5), "msg_count_domain")
    with pytest.raises(QualityError):
        expect_nonempty(clean.where(F.lit(False)), "empty")
    with pytest.raises(QualityError):
        expect_check(clean, F.col("message_count") > 3, "too_strict")
    with pytest.raises(QualityError):
        expect_unique_key(data["sessions"], ["session_id"], "raw_sessions_pk")


def test_mart_user_activity_null_arrays_match_duckdb(spark, tmp_path):
    """A session whose pages_visited is NULL still counts its actions in
    top_action, and one whose actions is NULL still counts its pages in
    top_page: the reference unnests each array on its own. Checked
    against the benchmark's DuckDB mart over the same export."""
    import json

    land = tmp_path / "landing"
    (land / "user_sessions").mkdir(parents=True)

    def session(sid, day, pages, actions):
        return {
            "session_id": sid, "user_id": "u1",
            "start_time": f"2024-01-{day:02d}T10:00:00Z",
            "end_time": f"2024-01-{day:02d}T10:30:00Z",
            "pages_visited": pages, "device": "mobile", "actions": actions,
        }

    rows = [
        session("s1", 5, None, ["buy", "buy"]),
        session("s2", 6, ["home"], ["view"]),
        session("s3", 7, ["cart", "cart"], None),
    ]
    (land / "user_sessions" / "part-0.json").write_text(
        "".join(json.dumps(r) + "\n" for r in rows)
    )
    raw = read_mongo_export(spark, str(land / "user_sessions"), SESSIONS)
    cols, oracle = _MARTS["user_activity"]
    mart = mart_user_activity(sessions_clean(replicate_sessions(raw)))
    got = [tuple(r) for r in mart.select(*cols.split(", ")).collect()]
    want = duckdb.sql(oracle.replace("{L}", str(land))).fetchall()
    assert compare_rows(got, want) is None, compare_rows(got, want)
    assert [(r.top_page, r.top_action) for r in mart.collect()] == [("cart", "buy")]
