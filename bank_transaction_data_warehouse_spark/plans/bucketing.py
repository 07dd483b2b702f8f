"""Bucketed co-located join: the 100 TB answer to lineitem⋈orders.

The one genuinely large join in the warehouse build is facts ⋈
accounts on the order key (plans/warehouse.clean_transactions).  At
cluster scale, writing both tables bucketed by that key at ingest time
makes every subsequent join shuffle-free: Spark recognizes matching
bucket specs and plans a SortMergeJoin with NO Exchange on either
side — the join cost collapses from 2 full shuffles of the biggest
tables to zero.

write_bucketed / bucketed_join are the ingest-side and query-side
halves; tests/test_bucketing.py asserts the Exchange-free plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist as a bucketed managed table (metastore-backed; parquet
    under spark.sql.warehouse.dir)."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, bucket_col)
    if sort:
        writer = writer.sortBy(bucket_col)
    writer.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on: str
) -> DataFrame:
    """Join two same-bucketed tables on the bucket key — planner emits
    no Exchange when bucket specs line up."""
    return spark.table(left_table).join(spark.table(right_table), on)


def plan_has_exchange(df: DataFrame) -> bool:
    plan = df._jdf.queryExecution().executedPlan().toString()
    return "Exchange" in plan


def cdc_merge_bucketed(
    spark: SparkSession,
    base_table: str,
    events: DataFrame,
    key: str,
    seq_col: str,
    op_col: str,
    upsert_cols: list[str],
    n_buckets: int = 16,
) -> None:
    """CDC apply over a BUCKETED base — the periodic merge-on-write
    companion to operators/cdc.cdc_apply's merge-on-read.

    With the base table bucketed by the merge key, the full-outer
    join's base side reads shuffle-free (the bucketed scan already
    satisfies the join's HashPartitioning): the only Exchange in the
    whole merge is the event batch — which is delta-sized by
    definition — and the merged state writes back with the SAME bucket
    spec, so the next apply (and every read-side join on the key) is
    again Exchange-free on the table side.  At 100 TB this is the
    difference between re-shuffling the full base per merge cycle and
    shuffling only the day's changes.

    The swap is staged (write to ``<table>__cdc_stage``, drop, rename)
    because Spark refuses to overwrite a table it is reading — and a
    torn run leaves the committed base intact with only a stale stage
    table to garbage-collect (re-running the merge overwrites it).

    Pick ``n_buckets`` equal to ``spark.sql.shuffle.partitions``: the
    event aggregation arrives hash-partitioned at that width, and
    EnsureRequirements resolves a width mismatch by RE-SHUFFLING the
    bucketed side (observed: 4-bucket base vs 8 shuffle partitions
    planned an Exchange over the base scan — exactly the shuffle this
    layout exists to avoid).  tests/test_cdc.py asserts the aligned
    plan walks clean.
    """
    from bank_transaction_data_warehouse_spark.operators.cdc import cdc_apply

    merged = cdc_apply(
        spark.table(base_table), events, key, seq_col, op_col, upsert_cols
    )
    stage = f"{base_table}__cdc_stage"
    write_bucketed(merged, stage, key, n_buckets=n_buckets)
    spark.sql(f"DROP TABLE IF EXISTS {base_table}")
    spark.sql(f"ALTER TABLE {stage} RENAME TO {base_table}")
