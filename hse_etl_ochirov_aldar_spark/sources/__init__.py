from .readers import (
    TABLES,
    fetch_csv_to_staging,
    load_table,
    read_csv_all_string,
)
from .views import register_views, sql_query
from .sinks import (
    compact_parquet,
    overwrite_window,
    upsert_keep_newest,
    write_bucketed,
    write_overwrite,
    write_partitioned,
)

__all__ = [
    "register_views",
    "sql_query",
    "TABLES",
    "fetch_csv_to_staging",
    "load_table",
    "read_csv_all_string",
    "compact_parquet",
    "overwrite_window",
    "upsert_keep_newest",
    "write_bucketed",
    "write_overwrite",
    "write_partitioned",
]
