"""Sinks: partitioned/zstd Parquet writes + quarantine dual-write
(reference K1-K4)."""

from ais_data_pipeline_spark.sinks.parquet import (
    write_parquet,
    write_date_partitioned,
)

__all__ = ["write_parquet", "write_date_partitioned"]
