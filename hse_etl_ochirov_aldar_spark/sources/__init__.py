from .readers import TABLES, load_table
from .views import register_views, sql_query
from .sinks import (
    compact_parquet,
    overwrite_window,
    upsert_keep_newest,
    write_overwrite,
    write_partitioned,
)

__all__ = [
    "register_views",
    "sql_query",
    "TABLES",
    "load_table",
    "compact_parquet",
    "overwrite_window",
    "upsert_keep_newest",
    "write_overwrite",
    "write_partitioned",
]
