"""Partition invariance, sampled: a query's result must not depend on
the exchange widths it runs with.  Each sampled query is built and
collected in a fresh session at shuffle width 1, at an odd width (7)
and with a 1 MB AQE advisory size, and each result must match the
DuckDB oracle's value hash (test_oracle_parity's order-insensitive
signature).  Widths pinned by sources/tables.parallelism_for follow
the session's shuffle width, so width 1 also runs every pinned
exchange as one task."""

import duckdb
import pytest

import __spark_entry__ as E
from bank_transaction_data_warehouse_spark.sources.tables import TABLES
from tests.conftest import SF_DIR
from tests.test_oracle_parity import _sig

QUERIES = (
    "media_frame_dedup",
    "media_frame_lsh_dedup",
    "minhash_recall_report",
    "dedup_ngram_jaccard",
    "semantic_dedup_clusters",
    "embedding_dedup",
    "fact_spending",
    "spend_outliers",
)

CONFS = {
    "shuffle1": ("spark.sql.shuffle.partitions", "1"),
    "shuffle7": ("spark.sql.shuffle.partitions", "7"),
    "advisory1m": ("spark.sql.adaptive.advisoryPartitionSizeInBytes", "1m"),
}


@pytest.fixture(scope="module")
def oracle_sigs():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    sigs = {}
    for name in QUERIES:
        res = con.execute(E.oracle_sql()[name])
        sigs[name] = _sig([d[0] for d in res.description], res.fetchall())
    return sigs


@pytest.mark.parametrize("conf", sorted(CONFS))
@pytest.mark.parametrize("name", QUERIES)
def test_result_invariant_to_partitioning(spark, sf_dir, oracle_sigs, name, conf):
    session = spark.newSession()
    session.conf.set(*CONFS[conf])
    df = E.queries()[name](session, sf_dir)
    rows = [tuple(r) for r in df.collect()]
    assert _sig(df.columns, rows) == oracle_sigs[name]
