"""Incremental fact loading: delta filter, idempotent partition
append, streaming foreachBatch path."""

import os
import shutil

from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.plans import warehouse as WH
from bank_transaction_data_warehouse_spark.plans.incremental import (
    append_increment,
    fact_increment,
    stream_fact_into,
)
from bank_transaction_data_warehouse_spark.plans.materialize import build_warehouse

WATERMARK = 19990101


def test_incremental_equals_full_and_is_idempotent(spark, sf_dir, tmp_path):
    fact_dir = str(tmp_path / "fact")
    full = WH.fact_spending(spark, sf_dir)
    base = full.where(F.col("date_key") <= WATERMARK)
    inc = fact_increment(spark, sf_dir, WATERMARK)
    # month-aligned: increment covers the watermark's whole month, so
    # base and increment overlap inside that month by design
    assert inc.count() >= full.count() - base.count()

    append_increment(base, fact_dir)
    append_increment(inc, fact_dir)
    got = spark.read.parquet(fact_dir)
    assert got.count() == full.count()

    # replaying the same increment must not duplicate rows
    append_increment(inc, fact_dir)
    assert spark.read.parquet(fact_dir).count() == full.count()


def test_stream_fact_into_matches_batch(spark, sf_dir, tmp_path):
    dims_dir = str(tmp_path / "dw")
    build_warehouse(spark, sf_dir, dims_dir)
    drop = tmp_path / "txn_drop"
    drop.mkdir()
    shutil.copy(os.path.join(sf_dir, "lineitem.parquet"), drop / "p0.parquet")
    schema = spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet")).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(drop))
    )
    fact_dir = str(tmp_path / "fact_stream")
    q = stream_fact_into(stream, dims_dir, fact_dir, str(tmp_path / "ckpt"))
    q.awaitTermination()
    got = spark.read.parquet(fact_dir)
    want = WH.fact_spending(spark, sf_dir)
    assert got.count() == want.count()
    assert (
        got.agg(F.sum("transaction_count")).collect()[0][0]
        == want.agg(F.sum("transaction_count")).collect()[0][0]
    )
    # the streamed rows are the batch rows, value for value
    cols = list(WH.FACT_COLUMNS)
    assert sorted(map(tuple, got.select(*cols).collect())) == sorted(
        map(tuple, want.select(*cols).collect())
    )


def test_append_increment_leaves_session_conf_alone(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Dynamic partition overwrite must be scoped to the write (a
    DataFrameWriter option): setting it on the shared session conf
    leaks dynamic-overwrite semantics to concurrent queries.
    ``spark.conf`` is cached on the session, so patching its ``set``
    sees every call made through it."""
    calls = []
    real_set = spark.conf.set

    def recording_set(key, value):
        calls.append((key, value))
        real_set(key, value)

    monkeypatch.setattr(spark.conf, "set", recording_set)
    fact_dir = str(tmp_path / "fact")
    full = WH.fact_spending(spark, sf_dir)
    inc = fact_increment(spark, sf_dir, WATERMARK)
    append_increment(full.where(F.col("date_key") <= WATERMARK), fact_dir)
    append_increment(inc, fact_dir)
    append_increment(inc, fact_dir)  # replay
    assert calls == []
    assert spark.read.parquet(fact_dir).count() == full.count()
