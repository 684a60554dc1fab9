from full_docker_etl_spark.sources.catalog import (
    TESTDATA_TABLES,
    list_tables,
    load_table,
    load_tables,
    read_parquet,
    register_views,
)

__all__ = [
    "TESTDATA_TABLES",
    "list_tables",
    "load_table",
    "load_tables",
    "read_parquet",
    "register_views",
]
