"""Semantic tests of the star-schema build (reference parity rules)."""

from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.plans import analytics as A
from bank_transaction_data_warehouse_spark.plans import warehouse as WH


def test_clean_transactions_postdate_open(spark, sf_dir):
    # every surviving txn postdates its account's open date
    # (reference etl.py:123-128)
    txn = WH.clean_transactions(spark, sf_dir)
    orders = WH.load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    bad = (
        txn.join(orders, txn.l_orderkey == orders.o_orderkey)
        .where(F.col("l_shipdate") < F.col("o_orderdate"))
        .count()
    )
    assert bad == 0


def test_active_customers_all_have_accounts(spark, sf_dir):
    cust = WH.active_customers(spark, sf_dir)
    accts = WH.clean_accounts(spark, sf_dir)
    orphans = cust.join(
        accts, cust.c_custkey == accts.o_custkey, "left_anti"
    ).count()
    assert orphans == 0


def test_dim_customer_tiers_partition_balances(spark, sf_dir):
    dim = WH.dim_customer(spark, sf_dir)
    rows = dim.select("balance_tier", "acct_balance").collect()
    for r in rows:
        b = r.acct_balance
        expected = (
            "Overdrawn" if b < 0 else
            "Low" if b < 2500 else
            "Mid" if b < 5000 else
            "High" if b < 7500 else "Premium"
        )
        assert r.balance_tier == expected, r


def test_dim_date_key_format(spark, sf_dir):
    rows = WH.dim_date(spark, sf_dir).collect()
    for r in rows:
        # yyyyMMddHH key rule (reference etl.py:259-266)
        assert r.date_key == int(
            f"{r.year}{r.month:02d}{r.full_date.day:02d}{r.hour_of_day:02d}"
        )
        assert 2 <= r.day_of_week <= 8
        assert r.is_weekend == (r.day_of_week in (7, 8))


def test_dim_merchant_categories(spark, sf_dir):
    dim = WH.dim_merchant(spark, sf_dir)
    # MEDIUM p_type is absent from the MCC lookup → falls back to
    # keyword rules (reference etl.py:197-221 fallback semantics)
    cats = {r.category for r in dim.collect()}
    assert "Essentials" in cats  # lookup hit (ECONOMY)
    assert cats & {"Jewelry", "Gadgets", "Hardware", "Industrial"}  # fallback hits
    assert dim.where(F.col("category").isNull()).count() == 0


def test_fact_keys_resolve(spark, sf_dir):
    fact = WH.fact_spending(spark, sf_dir)
    assert fact.where(
        F.col("customer_key").isNull()
        | F.col("account_key").isNull()
        | F.col("merchant_key").isNull()
        | F.col("location_key").isNull()
    ).count() == 0
    # fact row count == clean transactions (no fan-out from dim joins)
    assert fact.count() == WH.clean_transactions(spark, sf_dir).count()


def test_hash_key_strategy(spark, sf_dir):
    dim = WH.dim_customer(spark, sf_dir, strategy="hash")
    n = dim.count()
    assert dim.select("customer_key").distinct().count() == n
    # the hash keys flow through the shared star into the fact
    fact = WH.fact_spending(spark, sf_dir, strategy="hash")
    assert fact.where(
        F.col("customer_key").isNull()
        | F.col("account_key").isNull()
        | F.col("merchant_key").isNull()
        | F.col("location_key").isNull()
    ).count() == 0
    assert fact.count() == WH.clean_transactions(spark, sf_dir).count()
    assert fact.select("customer_key").join(
        dim.select("customer_key"), "customer_key", "left_anti"
    ).count() == 0


def test_spending_habits_shares_sum_to_100(spark, sf_dir):
    per_cust = (
        A.spending_habits(spark, sf_dir)
        .groupBy("customer_key")
        .agg(F.sum("share_pct").alias("total"))
        .collect()
    )
    for r in per_cust:
        assert abs(r.total - 100.0) < 0.5, r


def test_dangling_nation_key_is_quarantined(spark, sf_dir, tmp_path):
    """A customer whose c_nationkey matches no nation has no
    dim_customer row, so the fact drops its clean transactions: each
    of them must be quarantined as UNKNOWN_LOCATION, so that every
    clean transaction is either in the fact or quarantined so, in
    both engines."""
    import os

    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as E

    out = tmp_path / "dangling_nation"
    out.mkdir()
    for name in os.listdir(sf_dir):
        if name != "customer.parquet":
            os.symlink(os.path.join(sf_dir, name), out / name)
    cust = pq.read_table(os.path.join(sf_dir, "customer.parquet"))
    i = cust.schema.get_field_index("c_nationkey")
    keys = cust.column(i).to_pylist()
    cust = cust.set_column(i, "c_nationkey", pa.array([99] + keys[1:], cust.schema.field(i).type))
    pq.write_table(cust, out / "customer.parquet")
    d = str(out)

    q = WH.quarantine_transactions(spark, d)
    unknown = q.where(F.col("reject_reason") == "UNKNOWN_LOCATION").count()
    assert unknown > 0
    assert WH.clean_transactions(spark, d).count() == WH.fact_spending(spark, d).count() + unknown

    con = duckdb.connect()
    for t in ("lineitem", "orders", "customer", "nation"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    want = sorted(con.sql(E.oracle_sql()["quarantine_transactions"]).fetchall())
    got = sorted(tuple(r) for r in q.collect())
    assert got == want


# the reasons a clean_transactions line can still carry: the line is
# in clean_transactions AND quarantined (see quarantine_transactions)
_CLEAN_LINE_REASONS = ("UNKNOWN_LOCATION", "NONPOSITIVE_QTY", "NEGATIVE_AMOUNT")


def test_quarantine_and_clean_partition_lineitem(spark, sf_dir):
    """Every lineitem row, whole, is in clean_transactions or in the
    quarantine's reject side, as multisets checked both ways: the
    quarantine carries the full row, since (l_orderkey, l_linenumber)
    repeats in the generated lineitem.  The reasons a clean line can
    carry name rows of clean_transactions."""
    li = WH.load_table(spark, sf_dir, "lineitem")
    assert li.select("l_orderkey", "l_linenumber").distinct().count() < li.count()
    clean = WH.clean_transactions(spark, sf_dir)
    q = WH.quarantine_transactions(spark, sf_dir)
    assert q.columns == li.columns + ["reject_reason"]
    flagged = F.col("reject_reason").isin(*_CLEAN_LINE_REASONS)
    whole = clean.unionByName(q.where(~flagged).drop("reject_reason"))
    assert whole.exceptAll(li).count() == 0
    assert li.exceptAll(whole).count() == 0
    assert q.where(flagged).drop("reject_reason").exceptAll(clean).count() == 0
