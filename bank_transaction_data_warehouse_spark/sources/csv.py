"""CSV ingest with corrupt-record quarantine — the CSV twin of
sources/jsonl.py (the reference's upstream systems export CSV as often
as they expose JDBC; etl.py's pandas read_sql is the analog step).

The split itself is jsonl.read_quarantine — the same PERMISSIVE
parse, corrupt-record column, parse-once cache and (clean, quarantine)
pair; only the format and the options below differ.

CSV-specific knobs encoded here:
- ``header``: skips the header line on every FILE (not just the first
  split) — important when a directory of drops each carries one.
- ``mode=PERMISSIVE`` flags rows with too many / too few fields and
  uncastable cells; the raw line lands in the corrupt column.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from bank_transaction_data_warehouse_spark.sources.jsonl import read_quarantine


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: StructType,
    header: bool = True,
    sep: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """CSV (clean, quarantine) split; see jsonl.read_quarantine."""
    return read_quarantine(
        spark, path, schema, "csv", header=str(header).lower(), sep=sep
    )
