from dbt_repo_spark.streaming.ingest import (
    GBFS_STATUS_SCHEMA,
    parse_status_stream,
    start_status_ingest,
)
from dbt_repo_spark.streaming.windows import session_aggregate, tumbling_counts

__all__ = [
    "GBFS_STATUS_SCHEMA",
    "parse_status_stream",
    "start_status_ingest",
    "session_aggregate",
    "tumbling_counts",
]
