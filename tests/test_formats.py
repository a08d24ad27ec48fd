"""Multi-format source/sink round-trips beyond parquet: ORC and
JSON-lines (the reference's ingestion world is CSV/JSON/XML + tables;
a Spark engine additionally speaks the warehouse formats natively)."""

from __future__ import annotations

from pyspark.sql import functions as F

from hse_etl_ochirov_aldar_spark.sources.readers import load_table


def _clean_events(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts", "event_type", "value")
    )


def test_orc_roundtrip_with_pushdown(spark, sf_dir, tmp_path):
    ev = _clean_events(spark, sf_dir)
    path = str(tmp_path / "ev_orc")
    ev.write.orc(path)
    back = spark.read.orc(path)
    assert back.count() == ev.count()
    assert dict(back.dtypes) == dict(ev.dtypes)
    # predicate pushdown reaches the ORC scan
    filtered = back.where(F.col("user_id") == 7)
    plan = filtered._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(user_id), EqualTo(user_id,7)]" in plan
    assert filtered.count() == ev.where(F.col("user_id") == 7).count()


def test_jsonl_roundtrip_with_explicit_schema(spark, sf_dir, tmp_path):
    ev = _clean_events(spark, sf_dir)
    path = str(tmp_path / "ev_jsonl")
    # default JSON timestamp formats are millisecond-precision — pin a
    # microsecond format on BOTH sides or the round-trip silently
    # truncates (found by this test). NTZ columns (parquet without the
    # UTC-adjusted flag) are governed by the separate timestampNTZFormat
    # option and carry no zone, so no offset pattern there.
    opts = {
        "timestampFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX",
        "timestampNTZFormat": "yyyy-MM-dd'T'HH:mm:ss.SSSSSS",
    }
    ev.write.options(**opts).json(path)
    # schema-on-read, no inference pass (production contract)
    back = spark.read.schema(ev.schema).options(**opts).json(path)
    assert back.count() == ev.count()
    a = {tuple(str(v) for v in r) for r in ev.collect()}
    b = {tuple(str(v) for v in r) for r in back.collect()}
    assert a == b


def test_compact_parquet_reduces_files(spark, sf_dir, tmp_path):
    from pathlib import Path

    from hse_etl_ochirov_aldar_spark.sources.sinks import compact_parquet

    ev = _clean_events(spark, sf_dir)
    path = str(tmp_path / "fragmented")
    # simulate streaming-accreted small files
    ev.repartition(40).write.parquet(path)
    before = len(list(Path(path).rglob("*.parquet")))
    assert before >= 40

    n = compact_parquet(spark, path, target_file_mb=128, sort_col="ts")
    after = len(list(Path(path).rglob("*.parquet")))
    assert after <= n + 1 < before
    assert spark.read.parquet(path).count() == ev.count()


def test_z_value_matches_python_reference(spark):
    from hse_etl_ochirov_aldar_spark.functions.zorder import z_value

    def ref(vals, bits):
        out = 0
        n = len(vals)
        for j, v in enumerate(vals):
            v = max(0, min(v, (1 << bits) - 1))
            for i in range(bits):
                out |= ((v >> i) & 1) << (i * n + j)
        return out

    rows = [(3, 5), (0, 0), (1023, 1), (-7, 4), (1 << 30, 9)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = [
        r[0]
        for r in df.select(
            z_value([F.col("x"), F.col("y")], bits=10)
        ).collect()
    ]
    assert got == [ref([x, y], 10) for x, y in rows]

    import pytest as _pytest

    with _pytest.raises(ValueError, match="at least two"):
        z_value([F.col("x")])
    with _pytest.raises(ValueError, match="BIGINT"):
        z_value([F.col("x"), F.col("y"), F.col("x")], bits=30)


def test_zorder_oracle_twin_bit_identical(spark):
    """The DuckDB oracle expression must reproduce z_value exactly."""
    import duckdb

    from hse_etl_ochirov_aldar_spark.functions.zorder import (
        oracle_z_value,
        z_value,
    )

    rows = [(i * 37 % 2048, i * 101 % 2048) for i in range(200)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = [
        r[0] for r in df.select(z_value([F.col("x"), F.col("y")], 11)).collect()
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE t(x BIGINT, y BIGINT)")
    con.executemany("INSERT INTO t VALUES (?, ?)", rows)
    want = [
        r[0]
        for r in con.execute(
            f"SELECT {oracle_z_value(['x', 'y'], 11)} FROM t"
        ).fetchall()
    ]
    assert got == want


def test_zorder_compaction_skips_files_in_both_dimensions(spark, tmp_path):
    """The data-skipping demo: a y-only predicate over an x-sorted
    layout touches (nearly) every file, while the z-ordered layout
    bounds every file's extent in BOTH dimensions — each box predicate
    draws rows from a fraction of the files."""
    from hse_etl_ochirov_aldar_spark.sources.sinks import compact_parquet

    n = 1 << 14
    base = spark.range(n).selectExpr(
        "id", "id % 256 AS x", "(id * 7919) % 256 AS y"
    )

    def files_touched(path, pred):
        df = spark.read.parquet(path).where(pred)
        return df.select(F.input_file_name()).distinct().count()

    linear = str(tmp_path / "linear")
    base.write.parquet(linear)
    compact_parquet(spark, linear, target_file_mb=1, sort_col="x")
    total_linear = spark.read.parquet(linear).select(
        F.input_file_name()
    ).distinct().count()

    zord = str(tmp_path / "zord")
    base.write.parquet(zord)
    compact_parquet(spark, zord, target_file_mb=1, zorder_cols=["x", "y"])
    total_z = spark.read.parquet(zord).select(
        F.input_file_name()
    ).distinct().count()

    # same content either way
    assert spark.read.parquet(zord).count() == n
    lin_x = files_touched(linear, "x < 64")
    lin_y = files_touched(linear, "y < 64")
    z_x = files_touched(zord, "x < 64")
    z_y = files_touched(zord, "y < 64")
    # the x-sorted layout serves x but NOT y
    assert lin_x <= max(1, total_linear // 2)
    assert lin_y >= max(1, int(0.9 * total_linear))
    # the z-ordered layout bounds BOTH dimensions
    assert z_x <= max(1, (3 * total_z) // 4)
    assert z_y <= max(1, (3 * total_z) // 4)
