"""incremental_refresh: HW-4's last-N-days refresh plus an additive mart.

Set-up loads a day-partitioned fact history. One operation applies one
CDC delta batch: a partition-scoped keep-newest upsert of the facts, an
exactly-once refresh of the versioned additive mart, the last-7-days
window rebuild (percentile bounds over all of history) and a consumer
read of the mart's committed snapshot. Many small jobs, renames and
partition rewrites: the fixed costs of the sinks dominate here.

The final facts, mart and window are checked against DuckDB recomputing
them from scratch over the history plus every applied delta.
"""

from __future__ import annotations

import os
from datetime import timedelta

import duckdb
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DateType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from hse_etl_ochirov_aldar_spark.operators.aggregates import daily_avg
from hse_etl_ochirov_aldar_spark.operators.percentile import percentile_trim
from hse_etl_ochirov_aldar_spark.plans.ivm import maintain_additive_mart_versioned
from hse_etl_ochirov_aldar_spark.sources.sinks import (
    overwrite_window,
    read_versioned,
    upsert_keep_newest,
    write_partitioned,
)

from ..gen import EPOCH, IncrementalSize, dir_bytes, gen_incremental
from . import compare_rows, percentile_bounds_sql

NAME = "incremental_refresh"
SPANS = (
    "sources.sinks.upsert_keep_newest",
    "plans.ivm.maintain_additive_mart_versioned",
    "sources.sinks.overwrite_window",
    "sources.sinks.read_versioned",
)
WINDOW_DAYS = 7
GROUP = ["day", "site"]

FACT = StructType([
    StructField("reading_id", StringType()), StructField("version", IntegerType()),
    StructField("day", DateType()), StructField("sensor_id", StringType()),
    StructField("site", StringType()), StructField("value_c", LongType()),
    StructField("value", DoubleType()), StructField("deleted", BooleanType()),
])
CHANGE = StructType([*FACT.fields, StructField("weight", IntegerType())])


class Workload:
    check_every_op = False
    # Batch latency keeps falling over the first three or four batches
    # (the JIT is still compiling the sinks' driver-side paths); timing
    # starts after three.
    warmup_ops = 3

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.size = IncrementalSize()
        self.inputs = gen_incremental(f"{work}/landing", seed, self.size)
        self.facts = f"{work}/lake/facts"
        self.mart = f"{work}/lake/mart"
        self.window = f"{work}/lake/window_daily"
        self.applied = 0
        self._rewrite_ratio = None
        history = spark.read.schema(FACT).json(self.inputs.history)
        write_partitioned(history, self.facts, "day")
        maintain_additive_mart_versioned(
            spark, self.mart, history, GROUP, ["value_c"], epoch=0)
        self._rebuild_window(self.size.days - 1)

    @property
    def exhausted(self) -> bool:
        return self.applied >= len(self.inputs.batches)

    @property
    def input_bytes(self) -> int:
        return self.inputs.history_bytes + sum(self.inputs.batch_bytes[: self.applied])

    def _rebuild_window(self, newest: int) -> None:
        live = self.spark.read.parquet(self.facts).where(~F.col("deleted"))
        first = (EPOCH + timedelta(days=newest - WINDOW_DAYS + 1)).date()
        window = live.where(F.col("day") >= F.lit(first))
        overwrite_window(
            self.spark,
            daily_avg(percentile_trim(window, "value", bounds_over=live), "day", "value"),
            self.window,
            "day",
        )

    def run_op(self, tracer) -> int:
        spark, b = self.spark, self.applied
        bdir = self.inputs.batches[b]
        with tracer.span("sources.sinks.upsert_keep_newest") as span:
            upserts = spark.read.schema(FACT).json(f"{bdir}/upserts")
            upsert_keep_newest(spark, upserts, self.facts, ["reading_id"], "version",
                               partition_col="day")
        if span is not None:
            self._rewrite_ratio = span.output_bytes / self.inputs.batch_bytes[b]
        with tracer.span("plans.ivm.maintain_additive_mart_versioned"):
            maintain_additive_mart_versioned(
                spark, self.mart, spark.read.schema(CHANGE).json(f"{bdir}/changes"),
                GROUP, ["value_c"], weight_col="weight", epoch=b + 1)
        with tracer.span("sources.sinks.overwrite_window"):
            self._rebuild_window(self.size.days + b)
        with tracer.span("sources.sinks.read_versioned"):
            read_versioned(spark, self.mart).agg(
                F.sum("n_rows"), F.sum("sum_value_c")).collect()
        self.applied += 1
        return self.inputs.batch_rows[b]

    def trace_extras(self, tracer) -> dict:
        return {"sources.sinks.upsert_keep_newest.rewrite_ratio": self._rewrite_ratio}

    def after_op(self) -> None:
        pass

    def stored_bytes(self) -> int:
        return sum(dir_bytes(p) for p in (self.facts, self.mart, self.window))

    # --- correctness gate: from-scratch recompute in DuckDB ------------------

    def check(self) -> list[str]:
        parts = [f"'{self.inputs.history}/*.json'"] + [
            f"'{d}/upserts/*.json'" for d in self.inputs.batches[: self.applied]
        ]
        json_cols = ("{reading_id:'VARCHAR', version:'INTEGER', day:'DATE', site:'VARCHAR', "
                     "value_c:'BIGINT', value:'DOUBLE', deleted:'BOOLEAN'}")
        newest = self.size.days + self.applied - 1
        first = (EPOCH + timedelta(days=newest - WINDOW_DAYS + 1)).date()
        log = f"{self.mart}/_log"
        version = max(int(n.split(".")[0]) for n in os.listdir(log) if n.endswith(".commit"))
        con = duckdb.connect()
        try:
            con.execute(f"""
                CREATE TABLE want AS SELECT * FROM read_json([{', '.join(parts)}],
                    format='newline_delimited', columns={json_cols})
                QUALIFY row_number() OVER (PARTITION BY reading_id ORDER BY version DESC) = 1
            """)
            con.execute(f"""
                CREATE VIEW got AS SELECT * FROM read_parquet('{self.facts}/*/*.parquet',
                    hive_partitioning = true)
            """)
            cols = "reading_id, version, CAST(day AS DATE), site, value_c, deleted"
            diff = con.sql(f"""SELECT count(*) FROM (
                (SELECT {cols} FROM got EXCEPT ALL SELECT {cols} FROM want) UNION ALL
                (SELECT {cols} FROM want EXCEPT ALL SELECT {cols} FROM got))""").fetchone()[0]
            out = [f"facts: {diff} rows differ"] if diff else []
            checks = {
                "mart": (
                    f"SELECT day, site, n_rows, sum_value_c FROM "
                    f"read_parquet('{self.mart}/v{version:08d}/*.parquet')",
                    "SELECT day, site, count(*), sum(value_c) FROM want "
                    "WHERE NOT deleted GROUP BY ALL",
                ),
                "window": (
                    f"SELECT CAST(day AS DATE), avg_value, n_readings FROM "
                    f"read_parquet('{self.window}/*/*.parquet', hive_partitioning = true) "
                    f"WHERE CAST(day AS DATE) >= DATE '{first}'",
                    f"""WITH live AS (SELECT * FROM want WHERE NOT deleted),
                    b AS ({percentile_bounds_sql("live", "value")}),
                    d AS (SELECT day, sum(CAST(round(value * 100) AS BIGINT)) AS s,
                                 count(*) AS n
                          FROM live, b WHERE day >= DATE '{first}'
                            AND value BETWEEN lo AND hi GROUP BY day)
                    SELECT day, CAST((2 * s * 100 + n * 100) // (2 * n * 100) AS DOUBLE)
                                / 100.0, n FROM d""",
                ),
            }
            for name, (got, want) in checks.items():
                msg = compare_rows(con.sql(got).fetchall(), con.sql(want).fetchall())
                if msg:
                    out.append(f"{name}: {msg}")
            return out
        finally:
            con.close()
