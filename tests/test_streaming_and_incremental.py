"""Streaming extension + incremental-engine invariants.

- streaming daily avg over the events table == batch daily avg on the
  same data (the availableNow scheduled-batch contract)
- HW-4's design invariant (HW-4/airflow/dags/iot_temperature.py:109-113):
  incremental window rebuild with global percentiles == the same window
  of a full rebuild
- sinks: dynamic partition overwrite touches only the written window;
  upsert keeps newest per key
"""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.operators.percentile import percentile_trim
from hse_etl_ochirov_aldar_spark.operators.aggregates import daily_avg
from hse_etl_ochirov_aldar_spark.queries import (
    _events_base,
    q_daily_avg,
    q_incremental_window_rebuild,
)
from hse_etl_ochirov_aldar_spark.sources.readers import load_table
from hse_etl_ochirov_aldar_spark.sources.sinks import (
    overwrite_window,
    upsert_keep_newest,
    write_partitioned,
)
from hse_etl_ochirov_aldar_spark.streaming.daily import (
    run_available_now,
    streaming_daily_avg,
)

from .fault_fs import crash


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="spark_engine_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _mart_stream(stream, root, checkpoint, group_cols, sum_cols):
    """The additive mart maintained from a stream: one versioned refresh
    per micro-batch, under the batch's epoch id."""
    from hse_etl_ochirov_aldar_spark.plans.ivm import (
        maintain_additive_mart_versioned,
    )

    return (
        stream.writeStream.foreachBatch(
            lambda batch, epoch: maintain_additive_mart_versioned(
                batch.sparkSession, root, batch, group_cols, sum_cols, epoch=epoch
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def test_streaming_daily_avg_equals_batch(spark, sf_dir, tmpdir):
    # stage events as a stream-source directory
    ev = load_table(spark, sf_dir, "events")
    src = f"{tmpdir}/events_src"
    ev.write.parquet(src)

    result = streaming_daily_avg(spark, src)
    run_available_now(result, f"{tmpdir}/ckpt", "t_stream_daily")
    got = {
        (str(r.day)): (r.avg_value, r.n_readings)
        for r in spark.table("t_stream_daily").collect()
    }

    expected = {
        str(r.day): (r.avg_value, r.n_readings)
        for r in daily_avg(
            ev.select(F.col("ts").cast("date").alias("day"), "value")
        ).collect()
    }
    assert set(got) == set(expected)
    for day, (avg_s, n_s) in got.items():
        avg_b, n_b = expected[day]
        assert n_s == n_b, day
        assert abs(avg_s - avg_b) < 0.011, (day, avg_s, avg_b)


def test_incremental_equals_full_window(spark, sf_dir):
    # HW-4 invariant: incremental (global percentiles, windowed rebuild)
    # must equal the corresponding window of the full pipeline
    full = q_daily_avg(spark, sf_dir)
    incr = q_incremental_window_rebuild(spark, sf_dir)
    base = _events_base(spark, sf_dir)
    cutoff = base.agg(F.date_sub(F.max("day"), 7)).collect()[0][0]
    full_window = {str(r.day): (r.avg_value, r.n_readings)
                   for r in full.where(F.col("day") >= F.lit(cutoff)).collect()}
    incr_rows = {str(r.day): (r.avg_value, r.n_readings) for r in incr.collect()}
    assert incr_rows == full_window


def test_dynamic_partition_overwrite(spark, tmpdir):
    path = f"{tmpdir}/t"
    df1 = spark.createDataFrame(
        [(1, "2024-01"), (2, "2024-02")], ["v", "month"]
    )
    write_partitioned(df1, path, "month")
    # rewrite only 2024-02 with new data
    df2 = spark.createDataFrame([(99, "2024-02")], ["v", "month"])
    overwrite_window(spark, df2, path, "month")
    rows = {(r.month, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {("2024-01", 1), ("2024-02", 99)}


def test_upsert_keep_newest(spark, tmpdir):
    path = f"{tmpdir}/u"
    first = spark.createDataFrame([("a", 1, 10.0), ("b", 1, 20.0)], ["k", "ver", "val"])
    upsert_keep_newest(spark, first, path, ["k"], "ver")
    second = spark.createDataFrame([("b", 2, 25.0), ("c", 1, 30.0)], ["k", "ver", "val"])
    upsert_keep_newest(spark, second, path, ["k"], "ver")
    rows = {(r.k, r.ver, r.val) for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 1, 10.0), ("b", 2, 25.0), ("c", 1, 30.0)}


def test_overwrite_window_does_not_mutate_session_conf(spark, tmpdir):
    """Dynamic partition overwrite must be write-local: a session-level
    conf mutation would silently turn every later full-refresh
    write_partitioned (S8/S12 TRUNCATE+INSERT) into a partial one."""
    before = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    path = f"{tmpdir}/ow"
    df1 = spark.createDataFrame([(1, "2024-01"), (2, "2024-02")], ["v", "month"])
    write_partitioned(df1, path, "month")
    overwrite_window(
        spark, spark.createDataFrame([(9, "2024-02")], ["v", "month"]), path, "month"
    )
    after = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    assert after == before
    # a subsequent full refresh must drop partitions absent from the new df
    write_partitioned(
        spark.createDataFrame([(7, "2024-03")], ["v", "month"]), path, "month"
    )
    rows = {(r.month, r.v) for r in spark.read.parquet(path).collect()}
    assert rows == {("2024-03", 7)}


def test_upsert_leftover_staging_contract(spark, tmpdir, monkeypatch):
    """Leftovers of a crashed upsert: an UNPUBLISHED staging dir (crash
    before the marker rename) is discarded, never merged — with or
    without a target; a PUBLISHED commit is rolled forward by the next
    upsert before it reads. Nothing is left beside the table."""
    import os

    cols = ["k", "ver", "val"]

    def upsert(path, rows):
        upsert_keep_newest(
            spark, spark.createDataFrame(rows, cols), path, ["k"], "ver"
        )

    # no target: the crashed first write's staged rows never appear
    path = f"{tmpdir}/u2"
    crash(monkeypatch, lambda: upsert(path, [("z", 9, 99.0)]), 0)
    assert os.path.exists(path + ".staged") and not os.path.exists(path)
    upsert(path, [("a", 1, 10.0)])
    rows = {(r.k, r.ver, r.val) for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 1, 10.0)}
    assert sorted(os.listdir(tmpdir)) == ["u2"]

    # target intact, commit published but not applied: rolled forward
    path3 = f"{tmpdir}/u3"
    upsert(path3, [("a", 1, 10.0)])
    crash(monkeypatch, lambda: upsert(path3, [("b", 1, 20.0)]), 2)
    assert os.path.exists(path3 + ".commit")
    upsert(path3, [("c", 1, 30.0)])
    rows3 = {(r.k, r.ver, r.val) for r in spark.read.parquet(path3).collect()}
    assert rows3 == {("a", 1, 10.0), ("b", 1, 20.0), ("c", 1, 30.0)}
    assert sorted(os.listdir(tmpdir)) == ["u2", "u3"]


def test_upsert_propagates_target_read_errors(spark, tmpdir):
    """A corrupt/unreadable EXISTING target must raise, not be mistaken
    for 'first write' and silently replaced with only the new rows."""
    import os

    import pytest

    path = f"{tmpdir}/u3"
    os.makedirs(path)
    with open(os.path.join(path, "part-00000.parquet"), "wb") as f:
        f.write(b"this is not a parquet file")
    df = spark.createDataFrame([("a", 1, 10.0)], ["k", "ver", "val"])
    with pytest.raises(Exception):
        upsert_keep_newest(spark, df, path, ["k"], "ver")
    # the corrupt target was not clobbered
    assert os.path.exists(os.path.join(path, "part-00000.parquet"))


def test_streaming_dedup_within_watermark(spark, sf_dir, tmpdir):
    """Streaming keyed dedup (S9 ON CONFLICT DO NOTHING, stream flavor):
    dropDuplicates on event_id over a watermarked stream must reproduce
    the batch distinct count."""
    from pyspark.sql import types as T

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "ts", "user_id", "value")
    )
    src = f"{tmpdir}/dedup_src"
    ev.write.parquet(src)

    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "10 days")
        .dropDuplicates(["event_id"])
        .groupBy()
        .count()
    )
    q = (
        stream.writeStream.format("memory")
        .queryName("t_dedup_stream")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/dedup_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = spark.table("t_dedup_stream").collect()[0][0]
    expected = ev.select("event_id").distinct().count()
    assert got == expected


def test_partition_scoped_upsert(spark, tmpdir):
    """Upsert with partition_col only reads/overwrites touched
    partitions; untouched partitions keep their rows."""
    path = f"{tmpdir}/pu"
    first = spark.createDataFrame(
        [("a", 1, 10.0, "2024-01"), ("b", 1, 20.0, "2024-02")],
        ["k", "ver", "val", "month"],
    )
    upsert_keep_newest(spark, first, path, ["k"], "ver", partition_col="month")
    second = spark.createDataFrame(
        [("b", 2, 25.0, "2024-02"), ("c", 1, 30.0, "2024-02")],
        ["k", "ver", "val", "month"],
    )
    upsert_keep_newest(spark, second, path, ["k"], "ver", partition_col="month")
    rows = {(r.k, r.ver, r.val, r.month) for r in spark.read.parquet(path).collect()}
    assert rows == {
        ("a", 1, 10.0, "2024-01"),
        ("b", 2, 25.0, "2024-02"),
        ("c", 1, 30.0, "2024-02"),
    }


def test_approx_percentile_bounds_close_to_exact(spark, sf_dir):
    from hse_etl_ochirov_aldar_spark.operators.percentile import (
        global_percentile_bounds,
    )

    base = _events_base(spark, sf_dir)
    exact = global_percentile_bounds(base, "value").collect()[0]
    approx = global_percentile_bounds(base, "value", approx=True).collect()[0]
    spread = exact["p_hi"] - exact["p_lo"]
    assert abs(approx["p_lo"] - exact["p_lo"]) < 0.05 * spread
    assert abs(approx["p_hi"] - exact["p_hi"]) < 0.05 * spread


def test_streaming_checkpoint_incremental_restart(spark, sf_dir, tmpdir):
    """availableNow + checkpoint = the reference's @daily batch without
    re-reading history: a restarted query picks up ONLY files appended
    since the last run, yet the complete-mode aggregate stays correct
    over all data seen."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    first_half = ev.where(F.col("event_id") % 2 == 0)
    second_half = ev.where(F.col("event_id") % 2 == 1)
    src = f"{tmpdir}/inc_src"
    ckpt = f"{tmpdir}/inc_ckpt"
    first_half.write.parquet(src)

    result = streaming_daily_avg(spark, src)
    run_available_now(result, ckpt, "t_inc_1")
    n1 = spark.table("t_inc_1").agg(F.sum("n_readings")).collect()[0][0]
    assert n1 == first_half.count()

    # append the second half; restart from the SAME checkpoint
    second_half.write.mode("append").parquet(src)
    result2 = streaming_daily_avg(spark, src)
    run_available_now(result2, ckpt, "t_inc_2")
    n2 = spark.table("t_inc_2").agg(F.sum("n_readings")).collect()[0][0]
    assert n2 == ev.count()  # aggregate now covers everything

    # the checkpoint recorded separate offsets per run — the second run
    # resumed from the first's progress instead of reprocessing history
    import glob

    progress_files = sorted(glob.glob(f"{ckpt}/offsets/*"))
    assert len(progress_files) >= 2  # one batch per run at minimum


def test_watermark_drops_late_data_in_append_mode(spark, tmpdir):
    """Append-mode windowed aggregation with a watermark: an event
    arriving after the watermark has passed its window is DROPPED (the
    bounded-lateness contract the reference lacks entirely)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("ts", T.TimestampType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = f"{tmpdir}/late_src"
    ckpt = f"{tmpdir}/late_ckpt"

    def write_batch(rows, mode):
        spark.createDataFrame(rows, ["ts_s", "value"]).select(
            F.to_timestamp("ts_s").alias("ts"), "value"
        ).coalesce(1).write.mode(mode).parquet(src)

    out = f"{tmpdir}/late_out"

    def run(name):
        # parquet sink: the append-mode sink that supports checkpoint
        # recovery (memory sinks refuse to resume)
        q = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
            .withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "1 hour").alias("w"))
            .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("w_start"), "total", "n")
            .writeStream.format("parquet")
            .queryName(name)
            .outputMode("append")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return {
            str(r.w_start): (r.total, r.n)
            for r in spark.read.parquet(out).collect()
        }

    # batch 1 establishes event time up to 12:00 -> watermark 11:00;
    # the 08:00-09:00 window is closed and emitted
    write_batch(
        [("2024-01-01 08:10:00", 1.0), ("2024-01-01 08:20:00", 2.0),
         ("2024-01-01 12:00:00", 10.0)],
        "overwrite",
    )
    first = run("t_late_1")
    assert first.get("2024-01-01 08:00:00") == (3.0, 2)

    # batch 2: one event for the already-closed 08:00 window (LATE,
    # must be dropped) and one fresh event advancing the stream
    write_batch(
        [("2024-01-01 08:30:00", 100.0), ("2024-01-01 14:00:00", 5.0)],
        "append",
    )
    second = run("t_late_2")
    # the file sink accumulates across runs: the 08:00 window keeps its
    # run-1 value — the late +100 was dropped, never re-emitted
    assert second.get("2024-01-01 08:00:00") == (3.0, 2)
    # the 12:00 window closes once the watermark passes 13:00
    assert second.get("2024-01-01 12:00:00") == (10.0, 1)


def test_versioned_upsert_atomic_merge(spark, tmpdir):
    """Versioned sink basics: bootstrap commit, keep-newest merge on a
    second commit, version retention GC."""
    from hse_etl_ochirov_aldar_spark.sources.sinks import (
        current_version,
        read_versioned,
        versioned_upsert,
    )

    root = f"{tmpdir}/vtable"
    cols = ["k", "ver", "val"]
    v = versioned_upsert(
        spark, spark.createDataFrame([("a", 1, 10), ("b", 1, 20)], cols),
        root, ["k"], "ver",
    )
    assert v == 1 and current_version(spark, root) == 1

    v = versioned_upsert(
        spark, spark.createDataFrame([("a", 2, 11), ("c", 1, 30)], cols),
        root, ["k"], "ver", keep_versions=1,
    )
    assert v == 2
    got = {(r.k, r.ver, r.val) for r in read_versioned(spark, root).collect()}
    assert got == {("a", 2, 11), ("b", 1, 20), ("c", 1, 30)}
    # keep_versions=1 GC'd the v1 data dir; its commit marker remains
    import os

    assert not os.path.exists(f"{root}/v00000001")
    assert os.path.exists(f"{root}/_log/00000001.commit")


def test_versioned_upsert_crash_between_write_and_commit(spark, tmpdir, monkeypatch):
    """The atomicity claim (VERDICT r2 #6): a writer that dies AFTER
    writing the new data directory but BEFORE the commit rename leaves
    readers on the previous version — the target is never observably
    partial — and the next upsert reclaims the version number with the
    correct merged result."""
    from hse_etl_ochirov_aldar_spark.sources.sinks import (
        current_version,
        read_versioned,
        versioned_upsert,
    )

    root = f"{tmpdir}/vtable_crash"
    cols = ["k", "ver", "val"]
    versioned_upsert(
        spark, spark.createDataFrame([("a", 1, 10), ("b", 1, 20)], cols),
        root, ["k"], "ver",
    )

    # mutations: orphan delete, marker create, marker rename <- crash
    steps = crash(
        monkeypatch,
        lambda: versioned_upsert(
            spark, spark.createDataFrame([("a", 2, 99)], cols),
            root, ["k"], "ver",
        ),
        2,
    )
    assert steps[-1] == "create 00000002.commit.tmp"
    # reader sees version 1, complete and unchanged — the orphan v2 data
    # dir exists on disk but is invisible without its commit marker
    import os

    assert os.path.exists(f"{root}/v00000002")
    assert current_version(spark, root) == 1
    got = {(r.k, r.ver, r.val) for r in read_versioned(spark, root).collect()}
    assert got == {("a", 1, 10), ("b", 1, 20)}

    # recovery: the next upsert reclaims version 2 over the orphan
    v = versioned_upsert(
        spark, spark.createDataFrame([("a", 3, 12)], cols), root, ["k"], "ver"
    )
    assert v == 2
    got = {(r.k, r.ver, r.val) for r in read_versioned(spark, root).collect()}
    assert got == {("a", 3, 12), ("b", 1, 20)}


def test_versioned_time_travel_and_diff(spark, tmpdir):
    """Time travel (read_versioned(version=...), list_versions) and the
    version-to-version diff: retained versions are readable as
    committed, GC'd or uncommitted versions raise, and two time-travel
    reads differ by exactly what the upsert changed."""
    import pytest as _pytest

    from hse_etl_ochirov_aldar_spark.sources.sinks import (
        list_versions,
        read_versioned,
        versioned_upsert,
    )

    root = f"{tmpdir}/vtravel"
    cols = ["k", "ver", "val"]
    versioned_upsert(
        spark,
        spark.createDataFrame([("a", 1, "x"), ("b", 1, "y")], cols),
        root, ["k"], "ver", keep_versions=3,
    )
    versioned_upsert(
        spark,
        spark.createDataFrame([("a", 2, "x2"), ("c", 1, "z")], cols),
        root, ["k"], "ver", keep_versions=3,
    )
    assert list_versions(spark, root) == [1, 2]

    v1 = {(r.k, r.val) for r in read_versioned(spark, root, 1).collect()}
    assert v1 == {("a", "x"), ("b", "y")}
    v2 = {(r.k, r.val) for r in read_versioned(spark, root, 2).collect()}
    assert v2 == {("a", "x2"), ("b", "y"), ("c", "z")}

    assert v2 - v1 == {("a", "x2"), ("c", "z")}
    assert v1 - v2 == {("a", "x")}

    with _pytest.raises(FileNotFoundError, match="not committed"):
        read_versioned(spark, root, 7)

    # GC the v1 data dir via retention; its marker survives but time
    # travel to it must now fail loudly, and list_versions drops it
    versioned_upsert(
        spark,
        spark.createDataFrame([("d", 1, "w")], cols),
        root, ["k"], "ver", keep_versions=1,
    )
    assert list_versions(spark, root) == [3]
    with _pytest.raises(FileNotFoundError, match="not committed"):
        read_versioned(spark, root, 1)


def test_funnel_strict_sequential_semantics(spark):
    """A step counts only strictly after the previous step: a user who
    clicked BEFORE their first view must not convert; equal timestamps
    don't count; later steps are NULL once a step is missed."""
    import datetime as dt

    from hse_etl_ochirov_aldar_spark.operators.funnel import (
        funnel_report,
        funnel_steps,
    )

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    rows = [
        # u1 converts fully: view@1 click@2 purchase@3
        ("u1", t(1), "view"), ("u1", t(2), "click"), ("u1", t(3), "purchase"),
        # u2 clicked before viewing -> no click conversion
        ("u2", t(5), "click"), ("u2", t(6), "view"),
        # u3 equal-timestamp click -> strict > excludes it
        ("u3", t(7), "view"), ("u3", t(7), "click"),
        # u4 purchase without click -> stops at step 1
        ("u4", t(1), "view"), ("u4", t(2), "purchase"),
        # u5 never viewed -> absent entirely
        ("u5", t(1), "purchase"),
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    per = {
        r.user_id: (r.t1, r.t2, r.t3)
        for r in funnel_steps(ev, ["view", "click", "purchase"]).collect()
    }
    assert set(per) == {"u1", "u2", "u3", "u4"}
    assert per["u1"] == (t(1), t(2), t(3))
    assert per["u2"][1] is None and per["u3"][1] is None
    assert per["u4"] == (t(1), None, None)

    r = funnel_report(ev, ["view", "click", "purchase"]).collect()[0]
    assert (r.n_step1, r.n_step2, r.n_step3) == (4, 1, 1)
    assert (r.conv_step2_bp, r.conv_step3_bp) == (2500, 2500)


def test_funnel_report_empty_funnel_pins_zero_conversion(spark):
    """With zero step-1 completers the conversion must be 0 bp, not
    NULL (Spark `div` by 0) or an error (SQL `//` by 0) — the engine-
    divergence edge ADVICE r3 flagged."""
    import datetime as dt

    from hse_etl_ochirov_aldar_spark.operators.funnel import funnel_report

    rows = [("u1", dt.datetime(2024, 1, 1), "click")]  # no 'view' at all
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    r = funnel_report(ev, ["view", "click"]).collect()[0]
    assert (r.n_step1, r.n_step2, r.conv_step2_bp) == (0, 0, 0)


def test_funnel_conversion_window_excludes_late_steps(spark):
    import datetime as dt

    from hse_etl_ochirov_aldar_spark.operators.funnel import funnel_steps

    t = lambda m: dt.datetime(2024, 1, 1, 0, m, 0)
    rows = [
        ("u1", t(0), "view"), ("u1", t(5), "click"),    # within 10 min
        ("u2", t(0), "view"), ("u2", t(20), "click"),   # too late
    ]
    ev = spark.createDataFrame(rows, ["user_id", "ts", "event_type"])
    per = {
        r.user_id: r.t2
        for r in funnel_steps(
            ev, ["view", "click"], window_seconds=600
        ).collect()
    }
    assert per["u1"] == t(5) and per["u2"] is None


def test_scd2_intervals_tile_without_gaps(spark):
    """Per key: intervals are adjacent (valid_to == next valid_from),
    exactly one current row, NULL-ts versions dropped."""
    import datetime as dt

    from hse_etl_ochirov_aldar_spark.operators.scd import scd2_history

    t = lambda h: dt.datetime(2024, 3, 1, h)
    rows = [
        ("k1", 1, t(1)), ("k1", 2, t(5)), ("k1", 3, t(3)),
        ("k2", 4, t(2)), ("k2", 5, None),
    ]
    df = spark.createDataFrame(rows, ["k", "ver", "ts"])
    hist = scd2_history(df, ["k"], "ts", tiebreak_col="ver").collect()
    by_key: dict = {}
    for r in hist:
        by_key.setdefault(r.k, []).append(r)
    assert len(by_key["k2"]) == 1 and by_key["k2"][0].is_current
    k1 = sorted(by_key["k1"], key=lambda r: r.valid_from)
    assert [r.ver for r in k1] == [1, 3, 2]
    for a, b in zip(k1, k1[1:]):
        assert a.valid_to == b.valid_from and not a.is_current
    assert k1[-1].is_current and k1[-1].valid_to is None


def test_cdc_apply_merge_semantics(spark):
    """cdc_apply: newest change wins per key; 'D' removes; same-version
    upsert+delete resolves to delete (order-independent); deleting an
    absent key is a no-op; untouched keys pass through unchanged."""
    from hse_etl_ochirov_aldar_spark.operators.cdc import cdc_apply

    snap = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], ["k", "name", "v"]
    )
    changes = spark.createDataFrame(
        [
            (1, "a2", 11, 1, "U"),   # older update...
            (1, "a3", 12, 2, "U"),   # ...newest wins
            (2, "b", 20, 5, "D"),    # delete
            (2, "bx", 99, 5, "U"),   # same-version conflict -> D wins
            (4, "d", 40, 1, "I"),    # insert new key
            (9, "zz", 0, 7, "D"),    # delete of absent key: no-op
        ],
        ["k", "name", "v", "ver", "op"],
    )
    out = {r.k: (r.name, r.v)
           for r in cdc_apply(snap, changes, ["k"]).collect()}
    assert out == {1: ("a3", 12), 3: ("c", 30), 4: ("d", 40)}

    import pytest as _pytest

    with _pytest.raises(ValueError, match="non-empty"):
        cdc_apply(snap, changes, [])


def test_cdc_apply_idempotent_reapplication(spark):
    """Re-applying the same feed to the applied snapshot is a no-op —
    the retry-safety contract a replication job needs."""
    from hse_etl_ochirov_aldar_spark.operators.cdc import cdc_apply

    snap = spark.createDataFrame([(1, 10), (2, 20)], ["k", "v"])
    changes = spark.createDataFrame(
        [(1, 11, 1, "U"), (2, 20, 1, "D"), (5, 50, 1, "I")],
        ["k", "v", "ver", "op"],
    )
    once = cdc_apply(snap, changes, ["k"])
    twice = cdc_apply(once, changes, ["k"])
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, twice.collect()))


def test_ivm_batches_equal_full_aggregate(spark, sf_dir, tmpdir):
    """Maintaining the mart with three fact batches must equal one full
    aggregate over everything — the IVM contract, O(delta+mart) per
    refresh instead of O(history)."""
    from hse_etl_ochirov_aldar_spark.plans.ivm import (
        maintain_additive_mart_versioned,
    )
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table
    from hse_etl_ochirov_aldar_spark.sources.sinks import read_versioned

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "event_id", "value")
    )
    mart = f"{tmpdir}/mart"
    for i in range(3):
        batch = ev.where(F.col("event_id") % 3 == i)
        maintain_additive_mart_versioned(
            spark, mart, batch, ["user_id"], ["value"]
        )
    got = {
        r.user_id: (r.n_rows, round(r.sum_value, 6))
        for r in read_versioned(spark, mart).collect()
    }
    want = {
        r.user_id: (r.n_rows, round(r.sum_value, 6))
        for r in ev.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value")
        )
        .collect()
    }
    assert got == want


def test_ivm_retraction_undoes_a_batch(spark, tmpdir):
    """A weight=-1 replay of batch 2 must leave exactly batches 1+3;
    fully-retracted groups disappear from the mart."""
    from hse_etl_ochirov_aldar_spark.plans.ivm import (
        maintain_additive_mart_versioned,
    )
    from hse_etl_ochirov_aldar_spark.sources.sinks import read_versioned

    mart = f"{tmpdir}/mart_r"
    b1 = spark.createDataFrame([("a", 10.0), ("b", 5.0)], ["k", "value"])
    b2 = spark.createDataFrame([("a", 7.0), ("c", 2.0)], ["k", "value"])
    b3 = spark.createDataFrame([("b", 1.0)], ["k", "value"])
    for b in (b1, b2, b3):
        maintain_additive_mart_versioned(spark, mart, b, ["k"], ["value"])
    retract = b2.withColumn("weight", F.lit(-1))
    maintain_additive_mart_versioned(
        spark, mart, retract, ["k"], ["value"], weight_col="weight"
    )
    got = {
        r.k: (r.n_rows, r.sum_value)
        for r in read_versioned(spark, mart).collect()
    }
    # c fully retracted -> gone; a back to batch-1 state; b has 1+3
    assert got == {"a": (1, 10.0), "b": (2, 6.0)}


def test_streaming_sliding_counts_equals_batch(spark, sf_dir, tmpdir):
    """Sliding-window streaming counts (availableNow, complete mode)
    must equal the batch F.window aggregate over the same events —
    every event lands in window/slide overlapping windows."""
    from hse_etl_ochirov_aldar_spark.streaming.daily import (
        streaming_sliding_counts,
    )

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    src = f"{tmpdir}/slide_src"
    ev.write.parquet(src)

    result = streaming_sliding_counts(
        spark, src, window="12 hours", slide="6 hours"
    )
    q = (
        result.writeStream.format("memory")
        .queryName("t_sliding")
        .outputMode("complete")
        .option("checkpointLocation", f"{tmpdir}/slide_ckpt")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (str(r.window_start), r.event_type): r.n_events
        for r in spark.table("t_sliding").collect()
    }
    kind = F.lower(F.trim(F.col("event_type")))
    want = {
        (str(r.w.start), r.event_type): r.n_events
        for r in ev.groupBy(
            F.window("ts", "12 hours", "6 hours").alias("w"),
            kind.alias("event_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .collect()
    }
    assert got == want
    # sliding: total window-contributions = 2x events (window/slide = 2)
    assert sum(got.values()) == 2 * ev.count()


def test_streaming_ivm_equals_batch_aggregate(spark, sf_dir, tmpdir):
    """The streaming additive mart after an availableNow pass over the
    events feed must equal one full batch aggregate, with one committed
    version per micro-batch."""
    import os

    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.sources.sinks import (
        current_version,
        read_versioned,
    )

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "value")
    )
    src = f"{tmpdir}/ivm_src"
    ev.repartition(4).write.parquet(src)  # several files -> several batches
    n_files = sum(f.endswith(".parquet") for f in os.listdir(src))
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    mart = f"{tmpdir}/ivm_mart"
    q = _mart_stream(
        stream, mart, f"{tmpdir}/ivm_ckpt", ["user_id"], ["value"]
    )
    q.awaitTermination()
    assert current_version(spark, mart) == n_files
    got = {
        r.user_id: (r.n_rows, round(r.sum_value, 6))
        for r in read_versioned(spark, mart).collect()
    }
    want = {
        r.user_id: (r.n_rows, round(r.sum_value, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
        .collect()
    }
    assert got == want


def test_streaming_ivm_replayed_epoch_is_noop(spark, tmpdir):
    """A replayed micro-batch (same epoch id) must not double-count —
    the epoch recorded in the commit marker makes the refresh
    idempotent."""
    from hse_etl_ochirov_aldar_spark.plans.ivm import (
        maintain_additive_mart_versioned,
    )
    from hse_etl_ochirov_aldar_spark.sources.sinks import read_versioned

    mart = f"{tmpdir}/replay_mart"
    b = spark.createDataFrame([("a", 10.0)], ["k", "value"])
    assert maintain_additive_mart_versioned(
        spark, mart, b, ["k"], ["value"], epoch=7
    ) == 1
    assert maintain_additive_mart_versioned(
        spark, mart, b, ["k"], ["value"], epoch=7
    ) is None
    got = read_versioned(spark, mart).collect()[0]
    assert (got.n_rows, got.sum_value) == (1, 10.0)


def test_streaming_ivm_replayed_epoch_repairs_crashed_swap(spark, tmpdir, monkeypatch):
    """Same for the additive mart: the replayed epoch removes the
    crashed refresh's unpublished data dir, and stays a no-op for the
    merge itself (no double-count)."""
    import os
    import shutil

    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.plans.ivm import (
        maintain_additive_mart_versioned,
    )
    from hse_etl_ochirov_aldar_spark.sources.sinks import read_versioned

    schema = T.StructType(
        [
            T.StructField("k", T.StringType()),
            T.StructField("value", T.DoubleType()),
        ]
    )
    src = f"{tmpdir}/ivm_rsrc"
    spark.createDataFrame([("a", 10.0), ("b", 5.0)], schema).write.parquet(src)
    mart = f"{tmpdir}/ivm_rmart"
    stream = spark.readStream.schema(schema).parquet(src)
    _mart_stream(
        stream, mart, f"{tmpdir}/ivm_rckpt1", ["k"], ["value"]
    ).awaitTermination()
    want = {
        (r.k, r.n_rows, r.sum_value)
        for r in read_versioned(spark, mart).collect()
    }
    more = spark.createDataFrame([("a", 1.0)], schema)
    crash(
        monkeypatch,
        lambda: maintain_additive_mart_versioned(
            spark, mart, more, ["k"], ["value"], epoch=1
        ),
        2,
    )
    assert os.path.exists(f"{mart}/v00000002")
    shutil.rmtree(f"{tmpdir}/ivm_rckpt1")
    stream2 = spark.readStream.schema(schema).parquet(src)
    _mart_stream(
        stream2, mart, f"{tmpdir}/ivm_rckpt2", ["k"], ["value"]
    ).awaitTermination()
    got = {
        (r.k, r.n_rows, r.sum_value)
        for r in read_versioned(spark, mart).collect()
    }
    assert got == want  # repaired AND not double-counted
    assert not os.path.exists(f"{mart}/v00000002")


def test_partition_scoped_upsert_preserves_null_partition(spark, tmpdir):
    """NULL partition values: `col IN (..., NULL)` is never true in
    SQL, so without an explicit isNull branch the existing
    __HIVE_DEFAULT_PARTITION__ rows are left out of the merge and then
    clobbered by the staging rename — silent data loss."""
    from pyspark.sql import functions as F

    path = f"{tmpdir}/null_part"
    first = spark.createDataFrame(
        [(1, "a", 1), (2, None, 1)], "k INT, day STRING, ver INT"
    )
    upsert_keep_newest(spark, first, path, ["k"], "ver", partition_col="day")
    # second batch touches the NULL partition with a DIFFERENT key:
    # k=2 must survive the merge, not vanish
    second = spark.createDataFrame(
        [(3, None, 2)], "k INT, day STRING, ver INT"
    )
    upsert_keep_newest(spark, second, path, ["k"], "ver", partition_col="day")
    got = {
        (r["k"], r["day"], r["ver"])
        for r in spark.read.parquet(path).collect()
    }
    assert got == {(1, "a", 1), (2, None, 1), (3, None, 2)}


def test_temperature_mixture_tolerates_null_group(spark):
    """A NULL group draws no quota but must not crash the driver
    (None create_map keys / None-vs-str sorted comparisons)."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        temperature_mixture_sample,
    )

    df = spark.createDataFrame(
        [(i, "g1" if i % 2 else None) for i in range(40)],
        "k INT, grp STRING",
    )
    out = temperature_mixture_sample(df, "grp", "k", total=10)
    rows = out.collect()
    assert rows, "non-null groups still draw their quota"
    assert all(r["grp"] is not None for r in rows)


def test_leakage_safe_split_tolerates_existing_rep_column(spark):
    """An input frame already carrying '_rep' (retained dedup-cluster
    metadata) must not trigger AMBIGUOUS_REFERENCE in the join."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.operators.sampling import (
        leakage_safe_split,
    )

    df = spark.createDataFrame(
        [(i, f"meta{i}") for i in range(20)], "doc_id INT, _rep STRING"
    )
    cmap = spark.createDataFrame([(1, 0), (3, 0)], "id INT, rep INT")
    out = leakage_safe_split(df, cmap, "doc_id")
    assert out.count() == 20
    by_id = {r["doc_id"]: r["split"] for r in out.collect()}
    assert by_id[1] == by_id[3] == by_id[0]  # cluster rides rep=0's bucket
    assert "_rep" in out.columns  # caller metadata untouched


def test_overwrite_window_epoch_replay_idempotent(spark, sf_dir, tmpdir):
    """A foreachBatch sink that writes each epoch's partition through
    overwrite_window rewrites that partition when a batch is replayed
    (at-least-once foreachBatch) instead of appending duplicates."""
    from pyspark.sql import functions as F

    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    out = f"{tmpdir}/replay_out"
    docs = (
        load_table(spark, sf_dir, "documents")
        .where(F.col("doc_id") < 30)
        .select("doc_id", "text")
    )
    # the sink's per-batch write, twice with the SAME epoch
    for _ in range(2):
        overwrite_window(
            spark, docs.withColumn("batch_epoch", F.lit(7)), out, "batch_epoch"
        )
    assert spark.read.parquet(out).count() == 30


def test_ivm_mart_recovers_from_crash_mid_swap(spark, tmpdir, monkeypatch):
    """Crash just before the mart's marker rename: readers stay on the
    previous version, and the redelivered batch adds to the committed
    history exactly once instead of bootstrapping from scratch."""
    from hse_etl_ochirov_aldar_spark.plans.ivm import (
        maintain_additive_mart_versioned,
    )
    from hse_etl_ochirov_aldar_spark.sources.sinks import read_versioned

    mart = f"{tmpdir}/mart"
    d1 = spark.createDataFrame([("a", 10.0), ("b", 5.0)], ["k", "v"])
    maintain_additive_mart_versioned(spark, mart, d1, ["k"], ["v"], epoch=0)
    d2 = spark.createDataFrame([("a", 1.0)], ["k", "v"])

    def refresh():
        return maintain_additive_mart_versioned(
            spark, mart, d2, ["k"], ["v"], epoch=1
        )

    crash(monkeypatch, refresh, 2)
    rows = {(r.k, r.sum_v, r.n_rows) for r in read_versioned(spark, mart).collect()}
    assert rows == {("a", 10.0, 1), ("b", 5.0, 1)}
    assert refresh() == 2
    rows = {(r.k, r.sum_v, r.n_rows) for r in read_versioned(spark, mart).collect()}
    assert rows == {("a", 11.0, 2), ("b", 5.0, 1)}


def test_rolling_hll_accuracy_tight_bound(spark):
    """The TIGHT 3σ (5%) accuracy check for the rolling-HLL entry,
    moved OUT of the shared-oracle value hash (r10 ADVICE: there it
    turned a probabilistic guarantee into a hard hash assertion). A
    failure here reads as "sketch accuracy regressed on this data",
    and the catalog entry keeps its 5σ hash-stable audit flag."""
    from hse_etl_ochirov_aldar_spark.queries.curation import (
        q_rolling_unique_users_hll,
    )

    rows = q_rolling_unique_users_hll(spark, "/root/testdata/sf0.001").collect()
    assert rows, "entry returned no windows"
    assert all(r.hll_within_8pct for r in rows)
    # recompute the raw relative error at 3σ via the entry's own
    # internals: re-derive estimate vs exact from the audit columns is
    # not possible (the flag quantizes), so re-run the sketch side
    from hse_etl_ochirov_aldar_spark.sources.readers import load_table

    ev = load_table(spark, "/root/testdata/sf0.001", "events").where(
        F.col("ts").isNotNull()
    )
    days_user = ev.select(F.col("ts").cast("date").alias("day"), "user_id")
    daily_sk = days_user.groupBy("day").agg(
        F.hll_sketch_agg("user_id", F.lit(12)).alias("sk")
    )
    cover = F.explode(
        F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
    ).alias("wday")
    est = {
        r.wday: r.est
        for r in daily_sk.select(cover, "sk")
        .groupBy("wday")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
        .collect()
    }
    for r in rows:
        assert 20 * abs(est[r.day] - r.u7_users) <= r.u7_users, (
            r.day,
            est[r.day],
            r.u7_users,
        )


def test_upsert_recovers_from_crash_mid_swap(spark, tmpdir, monkeypatch):
    """Non-partitioned upsert crash mid-commit: the target deleted, the
    merged copy complete in staging — the next upsert must roll it
    forward, not rebuild the table from one batch."""
    from hse_etl_ochirov_aldar_spark.sources.sinks import upsert_keep_newest
    import os

    cols = ["k", "ver", "val"]
    path = f"{tmpdir}/t"
    b1 = spark.createDataFrame([("a", 1, 10.0), ("b", 1, 20.0)], cols)
    upsert_keep_newest(spark, b1, path, ["k"], "ver")
    b2 = spark.createDataFrame([("b", 2, 25.0)], cols)
    # commit mutations: marker create, marker rename, delete target,
    # rename staged <- crash
    crash(
        monkeypatch,
        lambda: upsert_keep_newest(spark, b2, path, ["k"], "ver"),
        3,
    )
    assert not os.path.exists(path)
    b3 = spark.createDataFrame([("c", 1, 30.0)], cols)
    upsert_keep_newest(spark, b3, path, ["k"], "ver")
    rows = {(r.k, r.ver, r.val) for r in spark.read.parquet(path).collect()}
    assert rows == {("a", 1, 10.0), ("b", 2, 25.0), ("c", 1, 30.0)}


def test_compact_recovers_from_crash_mid_swap(spark, tmpdir, monkeypatch):
    """Compaction crash mid-commit leaves the identical-content
    compacted copy in staging and no target; the next compact rolls it
    forward instead of failing on the missing target path."""
    from hse_etl_ochirov_aldar_spark.sources.sinks import compact_parquet
    import os

    path = f"{tmpdir}/t"
    spark.range(1000).selectExpr("id", "id * 2 AS v").repartition(
        8
    ).write.parquet(path)
    crash(monkeypatch, lambda: compact_parquet(spark, path), 3)
    assert not os.path.exists(path)
    n = compact_parquet(spark, path)
    assert n >= 1
    assert spark.read.parquet(path).count() == 1000
    assert sorted(os.listdir(tmpdir)) == ["t"]


def test_versioned_mart_exactly_once_epochs(spark, tmpdir, monkeypatch):
    """maintain_additive_mart_versioned: epochs recorded inside the
    atomic commit — a replayed epoch is a no-op, a crash before the
    commit rename leaves the committed snapshot untouched and the
    replay applies the batch exactly once."""
    from hse_etl_ochirov_aldar_spark.plans.ivm import (
        maintain_additive_mart_versioned,
    )
    from hse_etl_ochirov_aldar_spark.sources.sinks import read_versioned

    root = f"{tmpdir}/vmart"
    d1 = spark.createDataFrame([("a", 10.0), ("b", 5.0)], ["k", "v"])
    d2 = spark.createDataFrame([("a", 1.0)], ["k", "v"])

    v1 = maintain_additive_mart_versioned(
        spark, root, d1, ["k"], ["v"], epoch=0
    )
    assert v1 == 1
    # replay of epoch 0: no-op, version unchanged
    assert (
        maintain_additive_mart_versioned(spark, root, d1, ["k"], ["v"], epoch=0)
        is None
    )
    v2 = maintain_additive_mart_versioned(
        spark, root, d2, ["k"], ["v"], epoch=1
    )
    assert v2 == 2
    got = {
        (r.k, r.sum_v, r.n_rows) for r in read_versioned(spark, root).collect()
    }
    assert got == {("a", 11.0, 2), ("b", 5.0, 1)}

    # crash BEFORE the commit rename: data dir written, nothing
    # published — readers still see v2; the replay applies exactly once
    d3 = spark.createDataFrame([("b", 2.0)], ["k", "v"])
    crash(
        monkeypatch,
        lambda: maintain_additive_mart_versioned(
            spark, root, d3, ["k"], ["v"], epoch=2
        ),
        2,
    )
    got_after_crash = {
        (r.k, r.sum_v, r.n_rows) for r in read_versioned(spark, root).collect()
    }
    assert got_after_crash == got
    v3 = maintain_additive_mart_versioned(
        spark, root, d3, ["k"], ["v"], epoch=2
    )
    assert v3 == 3
    got3 = {
        (r.k, r.sum_v, r.n_rows) for r in read_versioned(spark, root).collect()
    }
    assert got3 == {("a", 11.0, 2), ("b", 7.0, 2)}
    # and the double-apply a marker written after the data would allow:
    # replaying epoch 2 after its commit is a no-op here
    assert (
        maintain_additive_mart_versioned(spark, root, d3, ["k"], ["v"], epoch=2)
        is None
    )


def test_streaming_versioned_mart_equals_batch_aggregate(spark, sf_dir, tmpdir):
    """The exactly-once streaming mart after an availableNow pass over
    the events feed equals one full batch aggregate, and a SECOND run
    over the same checkpoint (no new files) changes nothing."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.sources.sinks import read_versioned

    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("user_id").isNotNull() & F.col("value").isNotNull())
        .select("user_id", "value")
    )
    src = f"{tmpdir}/vivm_src"
    ev.repartition(4).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
        ]
    )

    def run():
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = _mart_stream(
            stream, f"{tmpdir}/vivm_root", f"{tmpdir}/vivm_ckpt",
            ["user_id"], ["value"],
        )
        q.awaitTermination()

    run()
    want = {
        r.user_id: (r.n_rows, round(r.sum_value, 6))
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.sum("value").alias("sum_value"))
        .collect()
    }
    got = {
        r.user_id: (r.n_rows, round(r.sum_value, 6))
        for r in read_versioned(spark, f"{tmpdir}/vivm_root").collect()
    }
    assert got == want
    run()  # restart on the same checkpoint: no new files, no change
    got2 = {
        r.user_id: (r.n_rows, round(r.sum_value, 6))
        for r in read_versioned(spark, f"{tmpdir}/vivm_root").collect()
    }
    assert got2 == want


def test_chunk_text_is_streaming_composable(spark, tmpdir):
    """chunk_text is stateless row-local algebra, so the SAME call
    works unchanged on a readStream — chunking composes with streaming
    ingest (the RAG-index maintenance path) without a batch detour.
    The streamed chunk set must equal the batch chunk set."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.operators.chunking import chunk_text

    docs = spark.createDataFrame(
        [(i, "xy" * (37 + 13 * i)) for i in range(20)] + [(99, "")],
        ["doc_id", "text"],
    )
    src = f"{tmpdir}/chunk_src"
    docs.repartition(3).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        chunk_text(stream, "text", size=64, stride=48)
        .select("doc_id", "chunk_idx", "chunk_text")
        .writeStream.format("memory")
        .queryName("t_stream_chunks")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.doc_id, r.chunk_idx, r.chunk_text)
        for r in spark.table("t_stream_chunks").collect()
    }
    batch = {
        (r.doc_id, r.chunk_idx, r.chunk_text)
        for r in chunk_text(docs, "text", size=64, stride=48)
        .select("doc_id", "chunk_idx", "chunk_text")
        .collect()
    }
    assert streamed == batch and len(batch) > 20


def test_html_extract_is_streaming_composable(spark, tmpdir):
    """extract_main_content is stateless row-local algebra — the same
    call works unchanged on a readStream (the crawl-ingest path);
    streamed extraction equals batch extraction."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.operators.html_extract import (
        extract_main_content,
    )

    prose = "A full paragraph of real article prose long enough to keep."
    pages = spark.createDataFrame(
        [
            (i, f'<div class="nav"><a href="/">Home</a></div><p>{prose} '
                f"variant {i}</p><p>No.</p>")
            for i in range(12)
        ],
        ["doc_id", "html"],
    )
    src = f"{tmpdir}/html_src"
    pages.repartition(3).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("html", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        extract_main_content(stream)
        .select("doc_id", "content", "n_kept_blocks")
        .writeStream.format("memory")
        .queryName("t_stream_html")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.doc_id, r.content, r.n_kept_blocks)
        for r in spark.table("t_stream_html").collect()
    }
    batch = {
        (r.doc_id, r.content, r.n_kept_blocks)
        for r in extract_main_content(pages)
        .select("doc_id", "content", "n_kept_blocks")
        .collect()
    }
    assert streamed == batch and len(batch) == 12
    assert all(n == 1 for _, _, n in batch)


def test_semantic_decontaminate_is_streaming_composable(spark, tmpdir):
    """The semantic screen's probe is a static broadcast 1-row frame,
    so the operator composes with a readStream as a stream-static
    join + row-local EXISTS — the streaming-ingest decontamination
    path needs no batch detour. Streamed survivors equal batch
    survivors."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.operators.decontaminate import (
        semantic_decontaminate,
    )

    rows = [(i, [float(i % 5), 1.0, float(i % 3)]) for i in range(30)]
    corpus = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    evals = corpus.where(F.col("vec_id") % 10 == 0)
    src = f"{tmpdir}/sem_src"
    corpus.repartition(3).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField(
                "embedding", T.ArrayType(T.DoubleType())
            ),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        semantic_decontaminate(stream, evals)
        .select("vec_id")
        .writeStream.format("memory")
        .queryName("t_stream_sem")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {r.vec_id for r in spark.table("t_stream_sem").collect()}
    batch = {r.vec_id for r in semantic_decontaminate(corpus, evals).collect()}
    assert streamed == batch and 0 < len(batch) < 30


def test_block_langs_and_robots_are_streaming_composable(spark, tmpdir):
    """extract_block_languages and drop_robots_noindex are stateless
    row-local algebra — both compose with a readStream unchanged and
    produce exactly their batch outputs (the extract_main_content
    precedent)."""
    from pyspark.sql import types as T

    from hse_etl_ochirov_aldar_spark.operators.html_extract import (
        drop_robots_noindex,
        extract_block_languages,
    )

    rows = [
        (1, "<p>The report is a text of the kind we keep in the corpus "
            "here.</p><p>Der Bericht ist und bleibt von einem Autor und "
            "das Team ist da.</p>"),
        (2, '<head><meta name="robots" content="noindex"></head>'
            "<p>Page two body prose long enough to clear the screen.</p>"),
        (3, "<p>Page three body prose long enough to clear the screen "
            "too.</p>"),
    ]
    src = f"{tmpdir}/bl_src"
    spark.createDataFrame(rows, "doc_id long, html string").repartition(
        2
    ).write.parquet(src)
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("html", T.StringType()),
        ]
    )
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = (
        extract_block_languages(drop_robots_noindex(stream))
        .select("doc_id", "block_langs")
        .writeStream.format("memory")
        .queryName("t_stream_bl")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    streamed = {
        (r.doc_id, tuple(r.block_langs))
        for r in spark.table("t_stream_bl").collect()
    }
    batch_df = extract_block_languages(
        drop_robots_noindex(spark.createDataFrame(rows, "doc_id long, html string"))
    )
    batch = {
        (r.doc_id, tuple(r.block_langs)) for r in batch_df.collect()
    }
    assert streamed == batch
    assert {d for d, _ in streamed} == {1, 3}  # noindex page 2 gone
    assert dict(streamed)[1] == ("en", "de")
