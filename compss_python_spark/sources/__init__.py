from compss_python_spark.sources.io import (
    read_parquet,
    read_csv,
    read_json,
    write_csv,
    write_json,
    write_parquet,
)

__all__ = [
    "read_parquet",
    "read_csv",
    "read_json",
    "write_csv",
    "write_json",
    "write_parquet",
]
