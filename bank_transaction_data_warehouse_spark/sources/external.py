"""External sources beyond the testdata parquet: the reference
extracts from a relational DB over a driver connection (etl.py:20-50)
and a CSV lookup (etl.py:52-56).  Spark-native equivalents:

- CSV lookups: schema-explicit reader (no runaway inference job);
  JSON lines and CSV drops with bad rows go through the quarantine
  split of sources/jsonl.py.
- JDBC: partitioned parallel extraction — the distributed replacement
  for the reference's single pandas.read_sql connection.  Config
  builder only in this environment (no DB/driver in the container);
  the options are the load-bearing part: partitionColumn/num
  Partitions turn one connection into N parallel range scans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def read_csv_lookup(
    spark: SparkSession, path: str, schema: str, delimiter: str = ","
) -> DataFrame:
    """Small lookup CSV (MCC-mapping analog).  Explicit schema: an
    inferSchema pass is a full extra read of the file."""
    return (
        spark.read.schema(schema)
        .option("header", "true")
        .option("delimiter", delimiter)
        .csv(path)
    )


def jdbc_reader(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    fetch_size: int = 10_000,
    **options: str,
):
    """Configured JDBC DataFrameReader (call .load() where a driver
    and network exist).  With partition_column bounds, Spark issues
    num_partitions parallel range queries instead of the reference's
    single-connection pandas.read_sql (etl.py:48-50)."""
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    if partition_column is not None:
        if lower_bound is None or upper_bound is None:
            raise ValueError("partitioned JDBC read needs lower/upper bounds")
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader


def jdbc_writer(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batch_size: int = 10_000,
    num_partitions: int | None = None,
    **options: str,
):
    """Configured JDBC DataFrameWriter — the distributed twin of the
    reference's `df.to_sql(..., fast_executemany=True)` load
    (etl.py:287-294).  Each partition opens one connection and writes
    `batchsize` rows per round-trip; `num_partitions` caps connection
    count (repartition before write).  Call .save() where a driver and
    network exist."""
    if num_partitions is not None:
        df = df.repartition(num_partitions)
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batch_size))
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    return writer
