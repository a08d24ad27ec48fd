"""Source readers (SURVEY.md §2.1 S1-S6).

The reference ingests HTTP CSV into an all-TEXT staging table
(HW-3/airflow/dags/iot_temperature.py:16-36), reads Postgres tables via
PostgresHook (HW-2/airflow/dags/sources_to_linear.py:22-33) and Mongo
collections via full ``find()`` scans
(final-module-3/airflow/dags/mongo_to_postgres_replication.py:118,149,185).

Spark-first mapping: columnar Parquet scans with column pruning and
predicate pushdown handled by the datasource; all-string CSV staging via
an explicit permissive schema (never schema inference in production
paths, matching the reference's declared-schema philosophy, SURVEY §1.3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

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


def read_csv_all_string(spark: SparkSession, path: str, columns: list[str]) -> DataFrame:
    """S1: CSV staged entirely as strings, typed later by the clean layer.

    Mirrors HW-3/init/init.sql:5-13 (every column of iot_raw is TEXT) +
    the COPY-with-header load (HW-3/airflow/dags/iot_temperature.py:29-35).
    An explicit all-string schema avoids an inference pass over the data —
    at 100 TB, inference is a full extra scan.
    """
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
    return spark.read.option("header", True).schema(schema).csv(path)


def fetch_csv_to_staging(url: str, dest_path: str, chunk_bytes: int = 1 << 20) -> int:
    """S1 front half: stream a CSV over HTTP(S)/file URL to a local
    staging file in bounded chunks, returning bytes written.

    The reference buffers the ENTIRE download in memory before loading
    (StringIO, HW-3/airflow/dags/iot_temperature.py:20-22) — fine for
    97k rows, fatal at scale. This streams with O(chunk) memory; the
    staged file then goes through ``read_csv_all_string`` into the
    all-string raw layer. On a cluster the staging target is shared
    storage (object store / DBFS) so executors can split the scan.
    """
    import urllib.request

    written = 0
    with urllib.request.urlopen(url) as resp, open(dest_path, "wb") as out:
        while True:
            chunk = resp.read(chunk_bytes)
            if not chunk:
                break
            out.write(chunk)
            written += len(chunk)
    return written
