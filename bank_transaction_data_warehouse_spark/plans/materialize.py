"""The Load step: materialize the star schema as partitioned parquet
(reference etl.py:284-386 loads into SQL Server via bulk insert; the
Spark-native warehouse is parquet + a metastore-compatible layout).

Layout decisions for 100 TB:
- fact partitioned by ship-year/month (`date_key` prefix): partition
  pruning serves the dashboard's time-sliced queries without a scan.
- facts written sorted-within-partitions by customer_key so per-
  customer analytics get row-group locality (min/max pruning).
- dims are single-directory small parquet — always broadcastable.
- build order (the reference's): dims first, then the fact star-joined
  from the dims just written — each dim is built once per run.  The
  fact goes through ``warehouse.star_join``, the join the
  fact_spending query computes (location null-safe on the conformed
  ``nation_name``, assumed unique per nation), so the written fact
  equals the query row for row.
- writes are idempotent (overwrite by partition), so backfills and
  re-runs are safe — the property the reference's `if_exists=append`
  load lacks (etl.py:290).
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.plans import warehouse as WH
from bank_transaction_data_warehouse_spark.sources.tables import load_table

_DAILY_CALENDAR = {
    "date_key": "int",
    "full_date": "date",
    "day_of_week": "int",
    "day_name": "string",
    "is_weekend": "boolean",
    "month": "int",
    "month_name": "string",
    "quarter": "int",
    "year": "int",
}

EXPECTED_SCHEMAS = {
    # schema.sql analog (reference data_source/schema.sql:71-135):
    # structural contract checked before any write
    "dim_customer": {
        "customer_key": "bigint",
        "customer_id_source": "bigint",
        "customer_name": "string",
        "balance_tier": "string",
        "segment": "string",
        "nation_name": "string",
        "acct_balance": "double",
    },
    "dim_account": {
        "account_key": "bigint",
        "account_id_source": "bigint",
        "account_type": "string",
        "account_open_date": "timestamp_ntz",
        "customer_id_source": "bigint",
    },
    "dim_location": {
        "location_key": "bigint",
        "nation_id_source": "int",
        "nation_name": "string",
        "region_name": "string",
        "region_scope": "string",
    },
    "dim_merchant": {
        "merchant_key": "bigint",
        "merchant_id_source": "bigint",
        "merchant_name_source": "string",
        "brand": "string",
        "category": "string",
    },
    # one calendar body (warehouse._calendar): the hourly dim is the
    # daily one plus the hour
    "dim_date": {**_DAILY_CALENDAR, "hour_of_day": "int"},
    "dim_date_daily": _DAILY_CALENDAR,
    "fact_spending": {
        "date_key": "int",
        "customer_key": "bigint",
        "account_key": "bigint",
        "merchant_key": "bigint",
        "location_key": "bigint",
        "amount_spent": "double",
        "transaction_count": "int",
    },
}


class SchemaValidationError(ValueError):
    pass


def validate_schema(df: DataFrame, table: str) -> None:
    """Assert the DataFrame matches the warehouse contract — the
    Spark-side twin of the reference's CREATE TABLE DDL."""
    expected = EXPECTED_SCHEMAS[table]
    actual = dict(df.dtypes)
    missing = set(expected) - set(actual)
    extra = set(actual) - set(expected)
    wrong = {
        c: (actual[c], expected[c])
        for c in set(expected) & set(actual)
        if actual[c] != expected[c]
    }
    if missing or extra or wrong:
        raise SchemaValidationError(
            f"{table}: missing={sorted(missing)} extra={sorted(extra)} "
            f"type-mismatch={wrong}"
        )


def build_warehouse(
    spark: SparkSession, sf_dir: str, out_dir: str, strategy: str = "rownum"
) -> dict[str, str]:
    """Clean → conform → validate → write the whole star schema.
    Returns table → path.  Equivalent of running the reference's
    etl.py end-to-end (etl.py:284-386), in its order: the six dims,
    then the fact from the dims just written (the reference re-reads
    its loaded dims to map keys), so the fact scans the transactions
    once and reads each written dim once."""
    dims = {name: build(spark, sf_dir, strategy) for name, build in WH.STAR_DIMS.items()}
    dims["dim_date"] = WH.dim_date(spark, sf_dir)
    dims["dim_date_daily"] = WH.dim_date_daily(spark, sf_dir)
    paths = {name: os.path.join(out_dir, name) for name in EXPECTED_SCHEMAS}
    for name, df in dims.items():
        validate_schema(df, name)
        df.write.mode("overwrite").parquet(paths[name])
    fact = _fact_from_dims(spark, out_dir)(load_table(spark, sf_dir, "lineitem"))
    validate_schema(fact, "fact_spending")
    _write_fact(fact, paths["fact_spending"], "static")
    return paths


def _fact_from_dims(spark: SparkSession, dims_dir: str) -> Callable[[DataFrame], DataFrame]:
    """Reads the four written star dims (``warehouse.STAR_DIMS``) under
    ``dims_dir`` once and returns ``txn → fact rows``
    (``warehouse.star_join``, FACT_COLUMNS): build_warehouse's fact
    and incremental.stream_fact_into's batches."""
    dims = [spark.read.parquet(os.path.join(dims_dir, name)) for name in WH.STAR_DIMS]
    return lambda txn: WH.star_join(txn, *dims).select(*WH.FACT_COLUMNS)


def _write_fact(fact: DataFrame, path: str, partition_overwrite: str) -> None:
    """The one writer of the fact layout: ym = yyyyMM prefix of the day
    key → monthly partitions, sorted within partitions for row-group
    pruning on the customer key.  ``partition_overwrite`` is "static"
    (replace the whole table) or "dynamic" (replace only the months
    present), set on the writer, never on the session."""
    (
        fact.withColumn("ym", (F.col("date_key") / 100).cast("int"))
        .repartition("ym")
        .sortWithinPartitions("customer_key")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", partition_overwrite)
        .partitionBy("ym")
        .parquet(path)
    )


def read_warehouse(spark: SparkSession, out_dir: str) -> dict[str, DataFrame]:
    return {
        name: spark.read.parquet(os.path.join(out_dir, name))
        for name in EXPECTED_SCHEMAS
    }
