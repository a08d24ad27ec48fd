"""Scalar cleaning expressions (SURVEY.md §2.8 F1-F13).

Each helper returns a Column expression built exclusively from
``pyspark.sql.functions`` — JVM-side, codegen-eligible, zero Python in
the row path. These are the Spark re-expressions of the reference's SQL
scalar idioms.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def coalesce_multi_format_timestamp(col: Column | str, *formats: str) -> Column:
    """F1: multi-format datetime parse with per-format fallback.

    Reference: ``COALESCE(to_timestamp(s,'DD-MM-YYYY HH24:MI:SS'),
    to_timestamp(s,'DD-MM-YYYY HH24:MI'))`` — HW-3/airflow/dags/
    iot_temperature.py:51-54. Spark's ``try_to_timestamp`` returns NULL on
    mismatch, matching the Postgres failure path used there.
    """
    c = F.col(col) if isinstance(col, str) else col
    formats = formats or ("dd-MM-yyyy HH:mm:ss", "dd-MM-yyyy HH:mm")
    return F.coalesce(*[F.try_to_timestamp(c, F.lit(fmt)) for fmt in formats])


def decimal_comma_to_double(col: Column | str) -> Column:
    """F2: ``NULLIF(replace(temp, ',', '.'), '')::numeric``.

    Reference: HW-3/airflow/dags/iot_temperature.py:55. Empty string ->
    NULL, decimal comma -> point, then a null-on-error double cast.
    """
    c = F.col(col) if isinstance(col, str) else col
    return F.nullif(F.regexp_replace(F.trim(c), ",", "."), F.lit("")).cast("double")


def month_of(col: Column | str) -> Column:
    """F4: ``DATE_TRUNC('month', d)::date`` (build_analytical_marts.py:32)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.date_trunc("month", c).cast("date")


def epoch_diff_minutes(end: Column | str, start: Column | str, scale: int = 2) -> Column:
    """F5: ``ROUND(EXTRACT(EPOCH FROM (end-start))/60.0, 2)``
    (mongo_to_postgres_replication.py:228)."""
    e = F.col(end) if isinstance(end, str) else end
    s = F.col(start) if isinstance(start, str) else start
    return F.round((F.unix_timestamp(e) - F.unix_timestamp(s)) / 60.0, scale)


def epoch_diff_hours(end: Column | str, start: Column | str, scale: int = 2) -> Column:
    """F5: hours variant (mongo_to_postgres_replication.py:266)."""
    e = F.col(end) if isinstance(end, str) else end
    s = F.col(start) if isinstance(start, str) else start
    return F.round((F.unix_timestamp(e) - F.unix_timestamp(s)) / 3600.0, scale)


def safe_array_size(col: Column | str) -> Column:
    """F7/A8: ``COALESCE(array_length(arr,1),0)`` with Spark's
    ``size(NULL) = -1`` pitfall neutralized
    (mongo_to_postgres_replication.py:230,233)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.when(c.isNull(), F.lit(0)).otherwise(F.size(c))
