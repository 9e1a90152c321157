from dbt_repo_spark.sources.readers import (
    read_csv_glob,
    read_json_dir,
    read_json_file,
)
from dbt_repo_spark.sources.catalog import Catalog

__all__ = [
    "Catalog",
    "read_csv_glob",
    "read_json_dir",
    "read_json_file",
]
