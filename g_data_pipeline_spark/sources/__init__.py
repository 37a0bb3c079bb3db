from g_data_pipeline_spark.sources.ingest import (
    coerce_types,
    land_csv,
    read_csv,
)

__all__ = [
    "coerce_types",
    "land_csv",
    "read_csv",
]
