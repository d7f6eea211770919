from processor_spark.sources.fixtures import (
    TABLES,
    is_one_task,
    load,
    load_all,
    register_views,
    row_key,
    schema_for,
)
from processor_spark.sources.lakehouse import CommitConflict, LakeCatalog, LakeTable

__all__ = [
    "TABLES",
    "is_one_task",
    "load",
    "load_all",
    "register_views",
    "row_key",
    "schema_for",
    "LakeTable",
    "LakeCatalog",
    "CommitConflict",
]
