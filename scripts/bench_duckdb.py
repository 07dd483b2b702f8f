"""Same-suite DuckDB baseline: run the ORACLE SQL for exactly the
bench.py HEADLINE queries on DuckDB at the same SF, min-of-3 each, and
print ONE JSON line shaped like bench.py's — so the Spark-vs-DuckDB
ratio is apples-to-apples per query and in total (BASELINE.md §3
previously compared a 24-query Spark suite to a 31-query DuckDB run).

Usage: python scripts/bench_duckdb.py [sf_dir]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

import __spark_entry__ as E
from bank_transaction_data_warehouse_spark.sources.tables import TABLES
from bench import HEADLINE


def main() -> None:
    sf_dir = (
        sys.argv[1]
        if len(sys.argv) > 1
        else os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    )
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = -1.0

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    oracles = E.oracle_sql()

    def run(name: str) -> float:
        t0 = time.perf_counter()
        con.sql(oracles[name]).fetchall()  # force full materialization
        return time.perf_counter() - t0

    run(HEADLINE[0])  # warm-up: OS page cache for the parquet files

    times: dict[str, float] = {}
    for name in HEADLINE:
        times[name] = round(min(run(name) for _ in range(3)), 3)

    total = round(sum(times.values()), 3)
    print(
        json.dumps(
            {
                "metric": "duckdb_headline_total",
                "value": total,
                "unit": "sec",
                "queries": times,
                "sf": sf,
            }
        )
    )


if __name__ == "__main__":
    main()
