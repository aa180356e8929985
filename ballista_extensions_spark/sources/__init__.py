"""Source/sink layer — the file-format surface the reference's wire
format declares (SURVEY.md §2 Tier C; proto/datafusion_common.proto:
CsvFormat :42-44/:411-429, ParquetFormat :46-50/:482-544, AvroFormat :52,
NdJsonFormat :54-56/:432-435, ArrowFormat/:96, compression :372-378),
plus the Delta table read of the reference's ``ballista_delta`` sibling."""

from ballista_extensions_spark.sources.formats import (
    read_any,
    write_any,
    read_csv,
    read_ndjson,
    read_parquet_dir,
    read_arrow_ipc,
    write_arrow_ipc,
    avro_supported,
)
from ballista_extensions_spark.sources.delta import read_delta

__all__ = [
    "read_any",
    "write_any",
    "read_csv",
    "read_ndjson",
    "read_parquet_dir",
    "read_arrow_ipc",
    "write_arrow_ipc",
    "avro_supported",
    "read_delta",
]
