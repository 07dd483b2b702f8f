"""Load step: schema validation + partitioned star-schema write +
read-back parity."""

import os
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.plans import warehouse as WH
from bank_transaction_data_warehouse_spark.plans.materialize import (
    SchemaValidationError,
    build_warehouse,
    read_warehouse,
    validate_schema,
)


def test_validate_schema_catches_drift(spark, sf_dir):
    dim = WH.dim_customer(spark, sf_dir)
    validate_schema(dim, "dim_customer")  # ok
    with pytest.raises(SchemaValidationError):
        validate_schema(dim.drop("segment"), "dim_customer")
    with pytest.raises(SchemaValidationError):
        validate_schema(dim.withColumn("rogue", F.lit(1)), "dim_customer")


def _null_nation_copy(sf_dir, tmp_path):
    """The sf tables with the first nation's n_name set to NULL: its
    customers must still reach their location in every fact path."""
    out = tmp_path / "null_nation"
    out.mkdir()
    for name in os.listdir(sf_dir):
        if name != "nation.parquet":
            os.symlink(os.path.join(sf_dir, name), out / name)
    nation = pq.read_table(os.path.join(sf_dir, "nation.parquet"))
    names = nation.column("n_name").to_pylist()
    nation = nation.set_column(
        nation.schema.get_field_index("n_name"), "n_name",
        pa.array([None] + names[1:], pa.string()),
    )
    pq.write_table(nation, out / "nation.parquet")
    return str(out)


@pytest.mark.parametrize(
    "strategy, null_nation",
    [("rownum", False), ("hash", False), ("rownum", True)],
    ids=["rownum", "hash", "rownum-null_nation_name"],
)
def test_build_and_read_back(spark, sf_dir, tmp_path, strategy, null_nation):
    if null_nation:
        sf_dir = _null_nation_copy(sf_dir, tmp_path)
    out = str(tmp_path / "dw")
    paths = build_warehouse(spark, sf_dir, out, strategy)
    assert set(paths) == {
        "dim_customer", "dim_account", "dim_location", "dim_merchant",
        "dim_date", "dim_date_daily", "fact_spending",
    }
    wh = read_warehouse(spark, out)
    # the fact written from the persisted dims IS the fact_spending
    # query, row for row (ym partition column added by the layout),
    # and keeps every clean transaction
    written = wh["fact_spending"].select(*WH.FACT_COLUMNS).collect()
    query = WH.fact_spending(spark, sf_dir, strategy).collect()
    assert written
    assert sorted(written) == sorted(query)
    assert len(written) == WH.clean_transactions(spark, sf_dir).count()
    # each written star dim is its builder's rows
    for name, build in WH.STAR_DIMS.items():
        want = build(spark, sf_dir, strategy).collect()
        assert Counter(wh[name].collect()) == Counter(want), name
    # monthly partitions exist on disk → partition pruning works
    ym_dirs = [d for d in os.listdir(paths["fact_spending"]) if d.startswith("ym=")]
    assert len(ym_dirs) > 10
    # pruned read only touches one partition
    one_month = wh["fact_spending"].where(F.col("ym") == int(ym_dirs[0][3:]))
    assert one_month.count() > 0


def test_write_is_idempotent(spark, sf_dir, tmp_path):
    out = str(tmp_path / "dw2")
    build_warehouse(spark, sf_dir, out)
    first = read_warehouse(spark, out)["dim_customer"].count()
    build_warehouse(spark, sf_dir, out)  # re-run: overwrite, not append
    assert read_warehouse(spark, out)["dim_customer"].count() == first
