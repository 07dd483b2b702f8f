"""Source registry: column-pruned, filter-pushdown-friendly readers.

The reference extracts three OLTP tables + one CSV lookup
(reference etl.py:46-56).  Here the binding is the driver testdata:

  customer  ≙ tbl_Customers        (customer master)
  orders    ≙ tbl_Accounts         (account-level container, open date)
  lineitem  ≙ tbl_Transactions/POS (itemized spend facts)
  events    ≙ tbl_Transactions/P2P (timestamped free-form stream)
  part      ≙ merchant catalog     (names to categorize, MCC-style)
  nation/region ≙ location hierarchy
  documents/embeddings ≙ training-data corpus (brief-mandated ops)

All readers return lazy DataFrames straight from ``spark.read.parquet``
so Catalyst keeps predicate pushdown and column pruning; no DataFrame
is cached here.  The frames, scan split counts and row counts (one
footer-answered COUNT job per table) are plan-build stats, memoized
per session by ``session.build_stat``.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession

from bank_transaction_data_warehouse_spark.session import build_stat

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Frames are memoized for plan BUILD, not data caching:
# `spark.read.parquet` costs ~70 ms of py4j + file-index JVM round
# trips, and a single warehouse query touches the base tables up to 14
# times (fact_spending: measured 1.0 s of its 2.1 s warm build).  The
# returned DataFrame is lazy and immutable, so reuse is safe; Catalyst
# still prunes/pushes per consuming plan.
def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    return build_stat(
        spark, (sf_dir, "frame", name),
        lambda: spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")),
    )


def load_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in (names or TABLES)}


def scan_partitions(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Scan partition count: a pure function of the immutable input
    layout + split confs, so one .rdd materialization per table per
    session (the file listing is already cached by load_table's
    frame)."""
    return build_stat(
        spark, (sf_dir, "splits", name),
        lambda: load_table(spark, sf_dir, name).rdd.getNumPartitions(),
    )


def table_rows(spark: SparkSession, sf_dir: str, name: str) -> int:
    """Row count of an immutable source table, memoized per session.
    Parquet answers COUNT(*) from footer metadata (no data pass), so
    this costs one tiny job once per (session, table) and is O(files)
    at any scale — cheap enough to size partitioning decisions from
    actual data (guide §2: partition by data size, not by a constant
    tuned to one deployment)."""
    return build_stat(
        spark, (sf_dir, "rows", name),
        lambda: load_table(spark, sf_dir, name).count(),
    )


# A scan is "degenerate" when parquet's row-group layout gives it at
# most this many splits: the input-skew remedy below only fires then.
# A table with MORE real splits than this is never reshuffled just to
# round parallelism up — r14 shipped `splits < shuffle.partitions` as
# the trigger, which at cluster scale would pay a FULL-TABLE shuffle
# for a 500-split table under shuffle.partitions=2000 (r14 verdict).
_DEGENERATE_SPLITS = 4


# Rows per task of every exchange width the plan layer pins: the one
# rule below sizes each pinned exchange from its input rows.
ROWS_PER_TASK = 320


def parallelism_for(spark: SparkSession, rows: int) -> int:
    """Pinned exchange width for an input of ``rows`` rows:
    ceil(rows / ROWS_PER_TASK), at least 1, capped at the session's
    shuffle parallelism.  Every exchange the plan layer pins is sized
    by this one rule, never by spark.sql.shuffle.partitions alone: a
    conf-wide exchange over a few thousand rows puts ~150 rows in each
    task, and the per-task fixed overhead (dispatch, codegen setup,
    fetch) then outweighs the compute it spreads.  At cluster scale
    rows / ROWS_PER_TASK exceeds any realistic shuffle.partitions, so
    the width is the full conf width."""
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return min(nparts, max(1, math.ceil(rows / ROWS_PER_TASK)))


def spread_scan(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    *keys: str,
    rows_hint: int | None = None,
) -> DataFrame:
    """Input-skew remedy (optimization guide §2.5: "one huge
    unsplittable file ... repartition immediately after the read").
    Parquet cannot be split below a row group, so a table written as
    one file / one row group scans as ONE task and serializes every
    downstream per-row pipeline.

    - It fires only for degenerate scans (real splits <=
      _DEGENERATE_SPLITS): a moderately-split table is never paid a
      full-table shuffle to round its parallelism up.
    - The width is parallelism_for of the table's rows, the one
      width rule.

    ``rows_hint`` bounds the row estimate for a consumer that filters
    to a known sample before the heavy work (minhash_recall_report's
    doc_id < 500): the filter pushes below this exchange, so only the
    surviving rows shuffle, and the width is sized to them.  Catalyst
    still pushes consumer filters below the repartition to the scan
    (gated by tests/test_plan_pushdown.py).
    """
    df = load_table(spark, sf_dir, name)
    splits = scan_partitions(spark, sf_dir, name)
    if splits > _DEGENERATE_SPLITS:
        return df
    rows = table_rows(spark, sf_dir, name)
    if rows_hint is not None:
        rows = min(rows, rows_hint)
    width = parallelism_for(spark, rows)
    if splits >= width:
        return df
    from pyspark.sql import functions as F

    return df.repartition(width, *[F.col(k) for k in keys])


# The MCC lookup rows: the only copy; Spark and the oracle both run MCC_SQL.
MCC_RULES = [
    ("ECONOMY", "Essentials"),
    ("STANDARD", "Everyday"),
    ("PROMO", "Deals & Offers"),
    ("LARGE", "Big Ticket"),
    ("SMALL", "Small Goods"),
]
MCC_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{t}', '{c}')" for t, c in MCC_RULES)
    + ") AS t(p_type, category)"
)


def merchant_category_rules(spark: SparkSession) -> DataFrame:
    """The MCC-style lookup table (reference tbl_MCC_Mapping.csv,
    etl.py:52-56).  The reference ships a merchant-name → category CSV;
    our catalog table is ``part``, so the lookup maps the catalog's
    ``p_type`` to a spend category.  A SQL ``VALUES`` table (a JVM
    LocalTableScan: no Python worker) whose text the oracle runs too.
    Small by construction → always the broadcast side of the
    categorization join."""
    return spark.sql(MCC_SQL)
