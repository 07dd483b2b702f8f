"""Adversarial star-schema gate: run the warehouse ETL queries and
their oracles over DIRTY inputs — orphan foreign keys, null natural
keys, null/extreme dates, negative money, zero quantities — and
require exact agreement.  The reference's whole job is cleaning dirty
OLTP data (etl.py:100-136), so the cleaning path must be parity-exact
on data far dirtier than the shipped testdata.
"""

import datetime as dt
import math

import duckdb
import pytest

import __spark_entry__ as E

D = dt.datetime

CUSTOMER = [
    # (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment)
    (1, "Alice", 0, 100.0, "BUILDING"),
    (2, "Bob", 1, -50.0, "AUTOMOBILE"),          # negative balance
    (3, None, 1, 0.0, "BUILDING"),               # null name
    (4, "Dana", None, 10.0, None),               # null nation + segment
    (5, "Orphan", 2, 9999.99, "MACHINERY"),      # no orders at all
    (6, "Eve", 99, 5.0, "BUILDING"),             # dangling nationkey
]

ORDERS = [
    # (o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority)
    (10, 1, "O", 100.0, D(2024, 1, 1), "1-URGENT"),
    (11, 2, "F", 200.0, D(2024, 2, 1), "5-LOW"),
    (12, 3, "O", 300.0, None, "2-HIGH"),          # null open date
    (13, 4, "O", 0.0, D(1900, 1, 1), "3-MEDIUM"),  # ancient open date
    (14, 777, "O", 50.0, D(2024, 1, 1), "4-NOT SPECIFIED"),  # orphan custkey
    (15, 6, None, -1.0, D(2100, 1, 1), "1-URGENT"),  # far future + null status
    (16, 6, "O", 10.0, D(2024, 3, 1), "5-LOW"),     # clean, customer's nation dangles
]

LINEITEM = [
    # (l_orderkey, l_partkey, l_suppkey, l_linenumber, l_quantity,
    #  l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate)
    (10, 100, 1, 1, 5.0, 100.0, 0.1, 0.02, "N", "O", D(2024, 1, 2)),
    (10, 101, 1, 2, 1.0, 50.0, 0.0, 0.0, "N", "O", D(2023, 12, 31)),  # ships BEFORE open
    (11, 100, 1, 1, 0.0, 0.0, 1.0, 0.0, "R", "F", D(2024, 2, 2)),     # zero qty, 100% disc
    (12, 102, 1, 1, 2.0, 75.5, 0.05, 0.01, "A", "F", D(2024, 3, 1)),  # order has null open date
    (13, 999, 1, 1, 3.0, 10.0, 0.0, 0.0, "N", "O", None),             # null shipdate + dangling part
    (14, 100, 1, 1, 4.0, 20.0, 0.02, 0.0, "N", "O", D(2024, 1, 5)),   # orphan order's line
    (15, 101, 1, 1, 6.0, 30.0, 0.0, 0.08, "N", "O", D(2100, 1, 2)),   # far future
    (16, 100, 1, 1, 0.0, 5.0, 0.0, 0.0, "N", "O", D(2024, 3, 2)),     # clean, zero qty, no nation
    (16, 102, 1, 2, 1.0, 9.0, 0.0, 0.0, "N", "O", D(2024, 3, 3)),     # clean, no nation
]

PART = [
    # (p_partkey, p_name, p_brand, p_type, p_size, p_retailprice)
    (100, "green metallic case", "B1", "STANDARD", 5, 10.0),
    (101, None, "B2", "ECONOMY", 1, 1.0),         # null name
    (102, "red shiny grocery crate", "B3", "PROMO", 9, 99.0),
]

NATION = [(0, "NATION_0", 0), (1, "NATION_1", 0), (2, "NATION_2", 1)]
REGION = [(0, "AMERICA"), (1, "ASIA")]

SUPPLIER = [(1, "Supplier#1", 0, 100.0)]

EVENTS = [
    # (event_id, ts, user_id, event_type, value, props)
    (0, D(2024, 1, 1, 0, 0, 0), 1, "pos", 10.0, '{"k": 1}'),
    (1, None, 1, "pos", 5.0, None),                      # null ts
    (2, D(1900, 1, 1, 12, 0, 0), 2, "p2p", 1.0, "{}"),   # ancient
    (3, D(2100, 12, 31, 23, 59, 59), None, "pos", None, "junk"),  # far future
]

# every query that runs on the star tables (all but the corpus ops,
# which have their own gate in test_adversarial_text.py)
from bank_transaction_data_warehouse_spark.plans import corpus as _corpus

WAREHOUSE_QUERIES = [k for k in E.queries() if k not in _corpus.QUERIES]


@pytest.fixture(scope="module")
def adv_wh_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("adv_wh")
    tables = {
        "customer": (
            CUSTOMER,
            "c_custkey long, c_name string, c_nationkey int, "
            "c_acctbal double, c_mktsegment string",
        ),
        "orders": (
            ORDERS,
            "o_orderkey long, o_custkey long, o_orderstatus string, "
            "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string",
        ),
        "lineitem": (
            LINEITEM,
            "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
            "l_quantity double, l_extendedprice double, l_discount double, "
            "l_tax double, l_returnflag string, l_linestatus string, "
            "l_shipdate timestamp_ntz",
        ),
        "part": (
            PART,
            "p_partkey long, p_name string, p_brand string, p_type string, "
            "p_size int, p_retailprice double",
        ),
        "nation": (NATION, "n_nationkey int, n_name string, n_regionkey int"),
        "region": (REGION, "r_regionkey int, r_name string"),
        "supplier": (
            SUPPLIER,
            "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
        ),
        "events": (
            EVENTS,
            "event_id long, ts timestamp_ntz, user_id long, event_type string, "
            "value double, props string",
        ),
        # minimal corpus tables: sql_revenue_by_region registers ALL
        # source views (sources/sql_interface.py), so they must exist
        "documents": (
            [(0, "tiny doc", "en", "synthetic", 8)],
            "doc_id long, text string, lang string, source string, n_chars long",
        ),
        "embeddings": (
            [(0, [1.0] * 64, 0)],
            "vec_id long, embedding array<float>, label int",
        ),
    }
    for name, (rows, schema) in tables.items():
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"{name}.parquet"))
    return str(d)


def _norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.12g}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_norm(x)) for x in v) + "]"
    return str(v)


@pytest.mark.parametrize("qname", WAREHOUSE_QUERIES)
def test_adversarial_warehouse_parity(spark, adv_wh_dir, qname):
    sdf = E.queries()[qname](spark, adv_wh_dir)
    got = sorted(
        tuple(_norm(v) for v in r) for r in sdf.select(sorted(sdf.columns)).collect()
    )
    con = duckdb.connect()
    for t in (
        "customer", "orders", "lineitem", "part", "nation", "region",
        "supplier", "events",
    ):
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{adv_wh_dir}/{t}.parquet/*.parquet')"
        )
    rel = con.sql(E.oracle_sql()[qname])
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    want = sorted(tuple(_norm(r[i]) for i in order) for r in rel.fetchall())
    assert got == want


def test_unlocated_lines_are_quarantined(spark, adv_wh_dir):
    """Order 16's lines pass cleaning, but customer 6's nation key
    dangles, so the fact has no row for them: both are quarantined as
    UNKNOWN_LOCATION, the zero-quantity line (16, 1) too (the parity
    test above holds the oracle to the same), and every clean line is
    in the fact or quarantined as UNKNOWN_LOCATION."""
    from bank_transaction_data_warehouse_spark.plans import warehouse as WH

    reason = {
        (r.l_orderkey, r.l_linenumber): r.reject_reason
        for r in WH.quarantine_transactions(spark, adv_wh_dir).collect()
    }
    assert reason[(16, 1)] == reason[(16, 2)] == "UNKNOWN_LOCATION"
    unknown = sum(v == "UNKNOWN_LOCATION" for v in reason.values())
    assert (
        WH.clean_transactions(spark, adv_wh_dir).count()
        == WH.fact_spending(spark, adv_wh_dir).count() + unknown
    )


def test_every_line_is_clean_or_quarantined(spark, adv_wh_dir):
    """Clean plus quarantined lines cover every line: an order that
    exists but fails clean_accounts (NULL open date, unknown customer,
    negative total) gives INVALID_ACCOUNT, and a NULL ship date fails
    SHIPS_AFTER_OPEN, so it is PREDATES_OPEN.  The fixture's
    (l_orderkey, l_linenumber) pairs are unique, so they name lines."""
    from bank_transaction_data_warehouse_spark.plans import warehouse as WH

    def keys(df):
        return {(r.l_orderkey, r.l_linenumber) for r in df.collect()}

    reason = {
        (r.l_orderkey, r.l_linenumber): r.reject_reason
        for r in WH.quarantine_transactions(spark, adv_wh_dir).collect()
    }
    clean = keys(WH.clean_transactions(spark, adv_wh_dir))
    assert clean | set(reason) == {(r[0], r[3]) for r in LINEITEM}
    assert reason[(12, 1)] == reason[(14, 1)] == reason[(15, 1)] == "INVALID_ACCOUNT"
    assert reason[(13, 1)] == "PREDATES_OPEN"
