"""The Load step: materialize the star schema as partitioned parquet
(reference etl.py:284-386 loads into SQL Server via bulk insert; the
Spark-native warehouse is parquet + a metastore-compatible layout).

Layout decisions for 100 TB:
- fact partitioned by ship-year/month (`date_key` prefix): partition
  pruning serves the dashboard's time-sliced queries without a scan.
- facts written sorted-within-partitions by customer_key so per-
  customer analytics get row-group locality (min/max pruning).
- dims are single-directory small parquet — always broadcastable.
- writes are idempotent (overwrite by partition), so backfills and
  re-runs are safe — the property the reference's `if_exists=append`
  load lacks (etl.py:290).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.plans import warehouse as WH

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
    "dim_date": {
        "date_key": "int",
        "full_date": "date",
        "day_of_week": "int",
        "day_name": "string",
        "is_weekend": "boolean",
        "month": "int",
        "month_name": "string",
        "quarter": "int",
        "year": "int",
        "hour_of_day": "int",
    },
    "dim_date_daily": {
        "date_key": "int",
        "full_date": "date",
        "day_of_week": "int",
        "day_name": "string",
        "is_weekend": "boolean",
        "month": "int",
        "month_name": "string",
        "quarter": "int",
        "year": "int",
    },
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
    etl.py end-to-end (etl.py:284-386)."""
    tables: dict[str, DataFrame] = {
        "dim_customer": WH.dim_customer(spark, sf_dir, strategy),
        "dim_account": WH.dim_account(spark, sf_dir, strategy),
        "dim_location": WH.dim_location(spark, sf_dir, strategy),
        "dim_merchant": WH.dim_merchant(spark, sf_dir, strategy),
        "dim_date": WH.dim_date(spark, sf_dir),
        "dim_date_daily": WH.dim_date_daily(spark, sf_dir),
        "fact_spending": WH.fact_spending(spark, sf_dir, strategy),
    }
    paths: dict[str, str] = {}
    for name, df in tables.items():
        validate_schema(df, name)
        path = os.path.join(out_dir, name)
        if name == "fact_spending":
            _write_fact(df, path, "static")
        else:
            df.write.mode("overwrite").parquet(path)
        paths[name] = path
    return paths


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
