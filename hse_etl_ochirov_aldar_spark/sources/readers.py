"""Source readers (SURVEY.md §2.1).

The reference reads Postgres tables via PostgresHook
(HW-2/airflow/dags/sources_to_linear.py:22-33); the catalog's testdata
tables are parquet files instead.

Spark-first mapping: columnar Parquet scans with column pruning and
predicate pushdown handled by the datasource. Mongo-export reads live
in ``sources.connectors``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Columnar scan of one testdata table.

    Parquet gives us partition discovery, predicate pushdown and column
    pruning for free — the reference's `SELECT ...` against Postgres heap
    (SURVEY §2.1 S2) maps to this plus Catalyst pruning the read schema.

    ``events.ts`` has shipped as parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader rejects — read via the legacy
    nanos-as-long path and restored to TimestampType with microsecond
    truncation, matching DuckDB's ns->us cast) and as TIMESTAMP(MICROS)
    without the UTC-adjusted flag (which Spark reads as TIMESTAMP_NTZ —
    passed through; downstream epoch math handles NTZ explicitly, see
    streaming/sessionize._epoch_micros). Both shapes load correctly.
    """
    path = f"{sf_dir}/{name}.parquet"
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        return df
    return spark.read.parquet(path)
