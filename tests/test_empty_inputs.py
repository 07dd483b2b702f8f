"""Empty-input sweep: every queries() entry, run over completely empty
source tables, must either agree exactly with its oracle (the normal
case: empty group-bys → 0 rows, global aggregates → one NULL row) or
raise a clearly-documented guard error.  Empty partitions are routine
at 100 TB (a new tenant, a pruned date range) — nothing may crash
with an uncontrolled analysis/arithmetic error.
"""

import duckdb
import pytest

import __spark_entry__ as E
from bank_transaction_data_warehouse_spark.sources.tables import TABLES
from test_driver_contract import _collect_python_rdds

SCHEMAS = {
    "region": "r_regionkey int, r_name string",
    "nation": "n_nationkey int, n_name string, n_regionkey int",
    "customer": (
        "c_custkey long, c_name string, c_nationkey int, c_acctbal double, "
        "c_mktsegment string"
    ),
    "supplier": "s_suppkey long, s_name string, s_nationkey int, s_acctbal double",
    "part": (
        "p_partkey long, p_name string, p_brand string, p_type string, "
        "p_size int, p_retailprice double"
    ),
    "orders": (
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate timestamp_ntz, o_orderpriority string"
    ),
    "lineitem": (
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber int, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, "
        "l_shipdate timestamp_ntz"
    ),
    "events": (
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string"
    ),
    "documents": "doc_id long, text string, lang string, source string, n_chars long",
    "embeddings": "vec_id long, embedding array<float>, label int",
}

# queries whose empty-input behavior is a documented guard error
EXPECTED_GUARDS = {
    # IVF needs a non-empty coarse quantizer (operators/ann.ivf_assign)
    "ann_ivf_topk": ValueError,
    "ann_ivf_kmeans_topk": ValueError,
    "ann_ivf_pq_topk": ValueError,
}

# Known engine-semantics difference, pinned so a change is noticed:
# per the SQL standard, GROUP BY CUBE/ROLLUP over an EMPTY input still
# yields the grand-total grouping (one row, like a global aggregate).
# DuckDB follows the standard (1 row); Spark's cube()/rollup() return
# 0 rows.  Irrelevant for any non-empty input (the driver's case), so
# the Spark behavior is kept rather than papered over with a union.
KNOWN_EMPTY_DIVERGENCE = {"spend_cube": (0, 1), "spend_rollup": (0, 1)}


@pytest.fixture(scope="module")
def empty_sf_dir(spark, tmp_path_factory):
    d = tmp_path_factory.mktemp("empty_sf")
    for t in TABLES:
        spark.createDataFrame([], SCHEMAS[t]).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(d / f"{t}.parquet"))
    return str(d)


def test_every_query_survives_empty_inputs(spark, empty_sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{empty_sf_dir}/{t}.parquet/*.parquet')"
        )
    oracles = E.oracle_sql()
    failures = []
    for name, fn in E.queries().items():
        if name in EXPECTED_GUARDS:
            with pytest.raises(EXPECTED_GUARDS[name]):
                fn(spark, empty_sf_dir).collect()
            continue
        try:
            df = fn(spark, empty_sf_dir)
            srows = sorted(tuple(str(v) for v in r) for r in df.collect())
        except Exception as ex:  # noqa: BLE001 — collecting all failures
            failures.append(f"{name}: spark raised {type(ex).__name__}: {ex}")
            continue
        # the empty-result early returns are plans too: no Python-side RDD
        python_rdds = []
        _collect_python_rdds(df._jdf.queryExecution().optimizedPlan(), python_rdds)
        if python_rdds:
            failures.append(f"{name}: reads a Python-side RDD {python_rdds}")
        try:
            drows = sorted(
                tuple(str(v) for v in r) for r in con.sql(oracles[name]).fetchall()
            )
        except Exception as ex:  # noqa: BLE001
            failures.append(f"{name}: oracle raised {type(ex).__name__}: {ex}")
            continue
        if name in KNOWN_EMPTY_DIVERGENCE:
            if (len(srows), len(drows)) != KNOWN_EMPTY_DIVERGENCE[name]:
                failures.append(
                    f"{name}: pinned empty-input divergence changed: "
                    f"spark={len(srows)} duck={len(drows)}"
                )
            continue
        if len(srows) != len(drows):
            failures.append(f"{name}: rows spark={len(srows)} duck={len(drows)}")
    assert not failures, "\n".join(failures)
