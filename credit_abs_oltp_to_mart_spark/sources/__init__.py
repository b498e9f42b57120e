"""Source/sink connectors: parquet-lake readers that read each OLTP table
with its declared schema, and partitioned mart writers."""

from credit_abs_oltp_to_mart_spark.sources.readers import read_oltp_table, read_sources
from credit_abs_oltp_to_mart_spark.sources.writers import write_mart, write_oltp_tables

__all__ = ["read_oltp_table", "read_sources", "write_mart", "write_oltp_tables"]
