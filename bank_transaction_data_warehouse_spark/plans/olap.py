"""General OLAP queries — engine breadth beyond the reference's star
schema: scan-heavy aggregation, multi-way joins, windows, and the batch
twins of the streaming ops.  TPC-H-shaped because the testdata is.

Plan-quality notes (checked via .explain("formatted")):
  q1  — single scan + hash agg, fully inside WholeStageCodegen; the
        shipdate filter is pushed to the parquet scan.
  q3  — customer filter broadcast into orders⋈lineitem; at cluster
        scale orders/lineitem are bucketed by orderkey → no shuffle.
  q5  — classic star: all dims broadcast, single fact pass.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.functions.warehouse import (
    EVENT_MEASURES_SQL,
    event_measures,
)
from bank_transaction_data_warehouse_spark.operators.sessionize import session_stats
from bank_transaction_data_warehouse_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}


def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    # scan+agg only: all work is the map-side partial aggregation, so
    # an unsplittable one-row-group input serializes it — spread_scan
    # (input-skew remedy, no-op at real scale).  Measured 0.56→0.42 s;
    # the join-dominated OLAP queries measured WORSE with the spread
    # (extra stage latency) and keep the plain scan.  Keyed on
    # l_shipdate — already in q1's read set, so the spread does not
    # widen the pruned scan (l_orderkey would; the column-pruning gate
    # in tests/test_plan_pushdown.py caught exactly that).
    from bank_transaction_data_warehouse_spark.sources.tables import spread_scan

    li = spread_scan(spark, sf_dir, "lineitem", "l_shipdate")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # exact-integer sums (source columns are fixed-point by
            # construction: qty integral, price/disc/tax 2dp) — order-
            # independent and engine-identical, unlike raw double sums
            (F.sum(F.round(F.col("l_quantity") * 100).cast("bigint")) / 100.0
             ).alias("sum_qty"),
            (F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint")) / 100.0
             ).alias("sum_base_price"),
            (F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * 10000).cast("bigint")) / 10000.0
             ).alias("sum_disc_price"),
            (F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * (1 + F.col("l_tax")) * 1000000).cast("bigint"))
             / 1000000.0).alias("sum_charge"),
            (F.round(F.sum(F.round(F.col("l_quantity") * 100).cast("bigint"))
                     / F.count("*") / 100.0 * 10000) / 10000.0).alias("avg_qty"),
            (F.round(F.sum(F.round(F.col("l_extendedprice") * 100).cast("bigint"))
                     / F.count("*") / 100.0 * 10000) / 10000.0).alias("avg_price"),
            (F.round(F.sum(F.round(F.col("l_discount") * 100).cast("bigint"))
                     / F.count("*") / 100.0 * 10000) / 10000.0).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


ORACLE["q1_pricing_summary"] = """
SELECT l_returnflag, l_linestatus,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base_price,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS sum_disc_price,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 1000000) AS BIGINT)) / 1000000.0 AS sum_charge,
       round(sum(CAST(round(l_quantity * 100) AS BIGINT)) / count(*) / 100.0 * 10000) / 10000.0 AS avg_qty,
       round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / count(*) / 100.0 * 10000) / 10000.0 AS avg_price,
       round(sum(CAST(round(l_discount * 100) AS BIGINT)) / count(*) / 100.0 * 10000) / 10000.0 AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= DATE '1998-09-02'
GROUP BY 1, 2
"""


def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer").where(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < F.lit("1998-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > F.lit("1998-03-15")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            (F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * 10000).cast("bigint")) / 10000.0).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


ORACLE["q3_shipping_priority"] = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < DATE '1998-03-15'
  AND l_shipdate > DATE '1998-03-15'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, l_orderkey LIMIT 10
"""


def q5_local_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by customer nation where supplier is co-national —
    the 6-way star join; every dim side broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey)
            & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .where(F.col("r_name") == "ASIA")
        .groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            (F.sum(F.round(F.col("l_extendedprice") * (1 - F.col("l_discount"))
                           * 10000).cast("bigint")) / 10000.0).alias("revenue")
        )
    )


ORACLE["q5_local_volume"] = """
SELECT n_name AS nation_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY 1
"""


def top_orders_per_customer(spark: SparkSession, sf_dir: str, k: int = 3) -> DataFrame:
    """Window op: each customer's k largest orders.  Partitioned
    row_number — scales with customers, no global sort."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        orders.withColumn("rank_in_cust", F.row_number().over(w).cast("int"))
        .where(F.col("rank_in_cust") <= k)
        .select(
            "o_custkey",
            "o_orderkey",
            (F.round(F.col("o_totalprice") * 100) / 100.0).alias("total_price"),
            "rank_in_cust",
        )
    )


ORACLE["top_orders_per_customer"] = """
SELECT o_custkey, o_orderkey, round(o_totalprice * 100) / 100.0 AS total_price,
       CAST(rn AS INTEGER) AS rank_in_cust
FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
"""


def per_window(events: DataFrame, window: str, keys, *measures) -> DataFrame:
    """The one tumbling-window aggregate: ``measures`` per (``window``
    bucket of ``ts``, ``keys``), as window_start, the keys, then the
    measures.  Batch queries and their streaming twins call it; a
    stream sets its watermark on ``events`` first."""
    agg = events.groupBy(F.window("ts", window).alias("w"), *keys).agg(*measures)
    return agg.select(F.col("w.start").alias("window_start"), *agg.columns[1:])


def rank_per_window(counts: DataFrame, topk: int) -> DataFrame:
    """The one trending rank: the top ``topk`` event types per
    window_start by n_events, ties broken by event_type ASC.  The rank
    window partitions by window_start — bounded per-hour cardinality,
    never a global (empty-partitionBy) window."""
    ranked = counts.withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("window_start").orderBy(
                F.col("n_events").desc(), F.col("event_type")
            )
        ),
    )
    return ranked.where(F.col("rnk") <= topk).select(
        "window_start",
        "event_type",
        "n_events",
        F.col("rnk").cast("int").alias("rnk"),
    )


def events_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregate by event type — the batch twin
    of streaming/jobs.spend_stream (the same per_window body runs under
    readStream with a watermark)."""
    # explicit null-ts drop: the window bucketing silently excludes
    # null timestamps; the oracle must share the policy visibly
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    return per_window(ev, "1 hour", ["event_type"], *event_measures())


ORACLE["events_windowed"] = f"""
SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
       {EVENT_MEASURES_SQL}
FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
"""


def events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min gap) with per-session stats.
    session_stats drops events without a timestamp, and the oracle
    drops them EXPLICITLY: the engines' null-ordering defaults differ
    (Spark windows sort nulls first, DuckDB last — found by the
    adversarial fuzz gate)."""
    return session_stats(load_table(spark, sf_dir, "events"), gap_minutes=30)


ORACLE["events_sessionize"] = f"""
WITH flagged AS (
  SELECT user_id, ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch(ts) - epoch(lag(ts) OVER w) > 1800
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WHERE ts IS NOT NULL
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
),
sess AS (
  SELECT user_id, ts, value,
         CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
  FROM flagged
)
SELECT user_id, session_seq, min(ts) AS session_start, max(ts) AS session_end,
       {EVENT_MEASURES_SQL}
FROM sess GROUP BY 1, 2
"""


def events_props_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured handling: parse the JSON props column and
    aggregate on an extracted field.  from_json with an explicit
    schema stays JVM-side and vectorized."""
    ev = load_table(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k int")["k"]
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.min("k").cast("int").alias("k_min"),
            F.max("k").cast("int").alias("k_max"),
            F.sum("k").cast("bigint").alias("k_sum"),
        )
    )


# TRY_CAST(props AS JSON): DuckDB's json_extract THROWS on malformed
# JSON while Spark's from_json returns NULL — the try_cast makes the
# oracle share Spark's permissive semantics (fuzz-gated in
# tests/test_adversarial_text.py)
ORACLE["events_props_parse"] = """
SELECT event_type, count(*) AS n_events,
       CAST(min(CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INTEGER)) AS INTEGER) AS k_min,
       CAST(max(CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INTEGER)) AS INTEGER) AS k_max,
       CAST(sum(CAST(json_extract(TRY_CAST(props AS JSON), '$.k') AS INTEGER)) AS BIGINT) AS k_sum
FROM events GROUP BY 1
"""


def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles of order value per status —
    F.percentile (exact) so the DuckDB quantile_cont twin matches.
    At 100 TB swap for percentile_approx and a tolerance check."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.round(F.percentile("o_totalprice", 0.5), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", 0.9), 2).alias("p90"),
        F.round(F.percentile("o_totalprice", 0.99), 2).alias("p99"),
    )


ORACLE["order_value_percentiles"] = """
SELECT o_orderstatus,
       round(quantile_cont(o_totalprice, 0.5), 2) AS p50,
       round(quantile_cont(o_totalprice, 0.9), 2) AS p90,
       round(quantile_cont(o_totalprice, 0.99), 2) AS p99
FROM orders GROUP BY 1
"""


def spend_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP(year, quarter) over order totals — hierarchical subtotal
    lattice in one pass (exact-cents for engine-stable sums)."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.round(F.col("o_totalprice") * 100).cast("bigint")
    return (
        orders.withColumn("year", F.year("o_orderdate").cast("int"))
        .withColumn("quarter", F.quarter("o_orderdate").cast("int"))
        .rollup("year", "quarter")
        .agg(
            (F.sum(cents) / 100.0).alias("total"),
            F.count("*").cast("bigint").alias("n_orders"),
        )
    )


ORACLE["spend_rollup"] = """
SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
       CAST(quarter(o_orderdate) AS INTEGER) AS quarter,
       sum(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS total,
       count(*) AS n_orders
FROM orders GROUP BY ROLLUP (1, 2)
"""


def inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: customers with no orders at all (the complement of
    the orphan-elimination rule, etl.py:115-121)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    return cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


ORACLE["inactive_customers"] = """
SELECT c_custkey, c_name, c_mktsegment FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


def segment_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: order counts per market segment x order status — the
    dashboard cross-tab shape.  Explicit pivot values keep the plan
    single-pass (no extra distinct job)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    statuses = ["O", "F", "P"]
    return (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .pivot("o_orderstatus", statuses)
        .agg(F.count(F.lit(1)))
        .select(
            "c_mktsegment",
            *[F.coalesce(F.col(s), F.lit(0)).cast("bigint").alias(f"n_{s}") for s in statuses],
        )
    )


ORACLE["segment_status_pivot"] = """
SELECT c_mktsegment,
       count(*) FILTER (WHERE o_orderstatus = 'O') AS n_O,
       count(*) FILTER (WHERE o_orderstatus = 'F') AS n_F,
       count(*) FILTER (WHERE o_orderstatus = 'P') AS n_P
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY 1
"""


def events_asof_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of enrichment: each event gets the date of its user's most
    recent order at/before the event timestamp (operators/asof.py).
    Only tie-invariant attributes are emitted (the matched DATE — two
    same-day orders tie arbitrarily, but the date is unique)."""
    from bank_transaction_data_warehouse_spark.operators.asof import asof_join

    # drop timestamp-less events explicitly: an as-of match for a
    # NULL ts is undefined, and the engines disagree on it (DuckDB's
    # ASOF matches the NULL probe, Spark's carry-forward doesn't —
    # adversarial warehouse gate).  Null RIGHT-side timestamps are
    # dropped symmetrically: an undated order can't be "most recent".
    ev = (
        load_table(spark, sf_dir, "events")
        .where(F.col("ts").isNotNull())
        .select("event_id", "user_id", "ts")
    )
    orders = (
        load_table(spark, sf_dir, "orders")
        .where(F.col("o_orderdate").isNotNull())
        .select("o_custkey", "o_orderdate")
    )
    out = asof_join(
        ev, orders,
        left_key="user_id", right_key="o_custkey",
        left_ts="ts", right_ts="o_orderdate",
        value_cols=["o_orderdate"],
    )
    return out.select(
        "event_id", "user_id", "ts",
        F.col("asof_o_orderdate").cast("date").alias("last_order_date"),
    )


ORACLE["events_asof_order"] = """
SELECT event_id, user_id, ts,
       CAST(o_orderdate AS DATE) AS last_order_date
FROM (SELECT * FROM events WHERE ts IS NOT NULL) events
ASOF LEFT JOIN (SELECT * FROM orders WHERE o_orderdate IS NOT NULL) orders
  ON events.user_id = orders.o_custkey AND events.ts >= orders.o_orderdate
"""


def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders with at least one late-shipped line, counted by priority
    — EXISTS semi-join + agg."""
    orders = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1996-04-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    cand = li.where(F.col("l_shipdate") >= F.lit("1996-02-01")).select("l_orderkey")
    return (
        orders.join(cand, orders.o_orderkey == cand.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


ORACLE["q4_order_priority"] = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate >= DATE '1996-02-01')
GROUP BY 1
"""


def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure filter + scalar agg — the pushdown showcase: every
    predicate reaches the parquet scan; plan is scan → codegen agg."""
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.round(F.col("l_extendedprice") * F.col("l_discount") * 100).cast("bigint")
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1996-01-01"))
            & (F.col("l_shipdate") < F.lit("1997-01-01"))
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg((F.sum(cents) / 100.0).alias("revenue"),
             F.count("*").cast("bigint").alias("n"))
    )


ORACLE["q6_revenue_forecast"] = """
SELECT sum(CAST(round(l_extendedprice * l_discount * 100) AS BIGINT)) / 100.0 AS revenue,
       count(*) AS n
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
"""


def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top customers by revenue lost to returns — 4-way join + topN."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg((F.sum(cents) / 100.0).alias("revenue"))
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


ORACLE["q10_returned_items"] = """
SELECT c_custkey, c_name, n_name,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY 1, 2, 3 ORDER BY revenue DESC, c_custkey LIMIT 20
"""


def q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Share of revenue from PROMO-type merchandise — conditional agg
    over a broadcast join (exact-cents both branches)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-07-01"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
    promo = F.when(F.col("p_type") == "PROMO", cents).otherwise(F.lit(0).cast("bigint"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            (F.sum(promo) / 100.0).alias("promo_revenue"),
            (F.sum(cents) / 100.0).alias("total_revenue"),
        )
        .select(
            "promo_revenue",
            "total_revenue",
            F.round(F.col("promo_revenue") * 100.0 / F.col("total_revenue"), 4).alias(
                "promo_pct"
            ),
        )
    )


ORACLE["q14_promo_share"] = """
WITH j AS (
  SELECT CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT) AS cents,
         p_type
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-07-01'
)
SELECT sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) / 100.0 AS promo_revenue,
       sum(cents) / 100.0 AS total_revenue,
       round((sum(CASE WHEN p_type = 'PROMO' THEN cents ELSE 0 END) / 100.0) * 100.0
             / (sum(cents) / 100.0), 4) AS promo_pct
FROM j
"""


def q9_nation_year_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by supplier nation x ship year (q9-shaped rollup input:
    fact joined through the supplier-side hierarchy)."""
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100).cast("bigint")
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation_name"),
            F.year("l_shipdate").cast("int").alias("year"),
        )
        .agg((F.sum(cents) / 100.0).alias("revenue"))
    )


ORACLE["q9_nation_year_revenue"] = """
SELECT n_name AS nation_name, CAST(year(l_shipdate) AS INTEGER) AS year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) / 100.0 AS revenue
FROM lineitem
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
GROUP BY 1, 2
"""


def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade volume between two nation pairs by year (q7 shape:
    bidirectional pair filter over a 5-way join)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n1 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    n2 = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    cents4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("s_nk"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("c_nk"))
        .where(pair)
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("int").alias("year"),
        )
        .agg((F.sum(cents4) / 10000.0).alias("revenue"))
    )


ORACLE["q7_volume_shipping"] = """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l_shipdate) AS INTEGER) AS year,
       sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE (n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
   OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1')
GROUP BY 1, 2, 3
"""


def q13_order_count_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of customers by order count, INCLUDING zero-order
    customers (left join + conditional count) — q13 shape."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_cust = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").cast("bigint").alias("custdist"))
    )


ORACLE["q13_order_count_distribution"] = """
SELECT c_count, count(*) AS custdist FROM (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
  GROUP BY 1
) GROUP BY 1
"""


def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers achieving the maximum revenue (q15 shape: scalar
    subquery against an aggregated view)."""
    li = load_table(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1996-01-01"))
        & (F.col("l_shipdate") < F.lit("1996-04-01"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cents4 = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("bigint")
    rev = li.groupBy("l_suppkey").agg((F.sum(cents4) / 10000.0).alias("total_revenue"))
    max_rev = rev.agg(F.max("total_revenue").alias("_mx"))
    return (
        rev.join(F.broadcast(max_rev), rev.total_revenue == F.col("_mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select(
            F.col("s_suppkey").cast("bigint").alias("supplier_id"),
            "s_name",
            "total_revenue",
        )
    )


ORACLE["q15_top_supplier"] = """
WITH rev AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY 1
)
SELECT s_suppkey AS supplier_id, s_name, total_revenue
FROM rev JOIN supplier ON l_suppkey = s_suppkey
WHERE total_revenue = (SELECT max(total_revenue) FROM rev)
"""


def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue from lines below 50%% of their part's average quantity
    (q17 shape: correlated scalar subquery → groupBy + rejoin)."""
    li = load_table(spark, sf_dir, "lineitem")
    # per-part average quantity: quantities are integral → exact sums
    avg_qty = li.groupBy("l_partkey").agg(
        (F.sum(F.col("l_quantity").cast("bigint")) * 1.0 / F.count("*")).alias("_avg_q")
    )
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    return (
        li.join(F.broadcast(avg_qty), "l_partkey")
        .where(F.col("l_quantity") < 0.5 * F.col("_avg_q"))
        .agg(
            (F.sum(cents) / 100.0 / 7.0).alias("avg_yearly"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
        .select(
            (F.round(F.col("avg_yearly") * 100) / 100.0).alias("avg_yearly"),
            "n_lines",
        )
    )


ORACLE["q17_small_quantity_revenue"] = """
WITH a AS (
  SELECT l_partkey,
         sum(CAST(l_quantity AS BIGINT)) * 1.0 / count(*) AS avg_q
  FROM lineitem GROUP BY 1
)
SELECT round(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 / 7.0 * 100) / 100.0 AS avg_yearly,
       count(*) AS n_lines
FROM lineitem JOIN a USING (l_partkey)
WHERE l_quantity < 0.5 * a.avg_q
"""


def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customers with any order whose total quantity exceeds a
    threshold (q18 shape: HAVING on a grouped join, then re-join)."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "c_name", "l_orderkey", "total_qty")
    )


ORACLE["q18_large_volume_customers"] = """
SELECT c_custkey, c_name, l_orderkey, total_qty FROM (
  -- DuckDB types sum(BIGINT) as HUGEINT (int128); cast back so the
  -- output column is int64 like Spark's, or the driver's
  -- type-sensitive value hash flips.
  SELECT l_orderkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 250
) JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wealthy customers with no orders, by nation (q22 shape: scalar
    avg subquery + anti-join)."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey")
    pos = cust.where(F.col("c_acctbal") > 0.0)
    avg_bal = pos.agg(
        (
            F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")) / 100.0
            / F.count("*")
        ).alias("_avg")
    )
    return (
        cust.crossJoin(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("_avg"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy(F.col("c_nationkey").cast("int").alias("nation_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_custs"),
            (F.sum(F.round(F.col("c_acctbal") * 100).cast("bigint")) / 100.0).alias(
                "total_bal"
            ),
        )
    )


ORACLE["q22_global_sales_opportunity"] = """
WITH avg_bal AS (
  SELECT sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 / count(*) AS a
  FROM customer WHERE c_acctbal > 0.0
)
SELECT CAST(c_nationkey AS INTEGER) AS nation_id, count(*) AS n_custs,
       sum(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0 AS total_bal
FROM customer, avg_bal
WHERE c_acctbal > avg_bal.a
  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
GROUP BY 1
"""


def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Disjunctive multi-attribute predicates (q19 shape): three OR'd
    brand/size/quantity bands; Catalyst pushes the common join key and
    evaluates the disjunction post-join."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 10))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 20))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 5))
    )
    cents4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("bigint")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .where(cond)
        .agg(
            (F.sum(cents4) / 10000.0).alias("revenue"),
            F.count("*").cast("bigint").alias("n_lines"),
        )
    )


ORACLE["q19_disjunctive_revenue"] = """
SELECT sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
       count(*) AS n_lines
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity >= 10)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity >= 20)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity >= 5)
"""


def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct-supplier counts per part attribute, excluding an
    attribute blacklist (q16 shape: NOT-IN predicate + count distinct)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").where(
        ~F.col("p_type").isin("PROMO", "SMALL")
    ).select("p_partkey", "p_brand", "p_type")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


ORACLE["q16_supplier_part_counts"] = """
SELECT p_brand, p_type, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem JOIN part ON l_partkey = p_partkey
WHERE p_type NOT IN ('PROMO', 'SMALL')
GROUP BY 1, 2
"""


def sql_revenue_by_region(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-SQL interface demo: the same engine via spark.sql over
    registered views (sources/sql_interface.py) — what the reference's
    analysts would type; Catalyst plans it identically to the
    DataFrame variants."""
    from bank_transaction_data_warehouse_spark.sources.sql_interface import sql

    return sql(
        spark,
        sf_dir,
        """
        SELECT r.r_name AS region_name,
               -- 10000.0D: Spark SQL parses a bare 10000.0 as
               -- DECIMAL, yielding a DECIMAL division the DataFrame
               -- API (and DuckDB) would do in DOUBLE
               sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000)
                        AS BIGINT)) / 10000.0D AS revenue,
               count(*) AS n_lines
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1
        """,
    )


ORACLE["sql_revenue_by_region"] = """
SELECT r.r_name AS region_name,
       sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 10000) AS BIGINT)) / 10000.0 AS revenue,
       count(*) AS n_lines
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
GROUP BY 1
"""


def q21_waiting_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers whose line was the only late one on a multi-supplier
    order (q21 shape: EXISTS of another supplier + NOT EXISTS of
    another late supplier on the same order)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    late = li.where(F.col("l_shipdate") >= F.lit("2001-01-01"))
    others = li.select(
        F.col("l_orderkey").alias("o_ok"), F.col("l_suppkey").alias("o_sk")
    )
    late_others = late.select(
        F.col("l_orderkey").alias("lo_ok"), F.col("l_suppkey").alias("lo_sk")
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    cand = (
        late.join(
            others,
            (late.l_orderkey == others.o_ok) & (late.l_suppkey != others.o_sk),
            "left_semi",
        )
        .join(
            late_others,
            (late.l_orderkey == F.col("lo_ok")) & (late.l_suppkey != F.col("lo_sk")),
            "left_anti",
        )
    )
    return (
        cand.join(F.broadcast(supp), cand.l_suppkey == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
    )


ORACLE["q21_waiting_orders"] = """
SELECT s_name, count(*) AS numwait
FROM lineitem l1 JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE l1.l_shipdate >= DATE '2001-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey != l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey != l1.l_suppkey
                    AND l3.l_shipdate >= DATE '2001-01-01')
GROUP BY 1
"""


def q20_part_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppliers who shipped above-median volume of 'red' catalog
    items (q20 shape: IN-subquery chain part → lineitem → supplier)."""
    part = load_table(spark, sf_dir, "part").where(
        F.col("p_name").startswith("red")
    ).select("p_partkey")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    per_supp = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(F.sum(F.col("l_quantity").cast("bigint")).alias("red_qty"))
        .where(F.col("red_qty") > 50)
    )
    return per_supp.join(
        F.broadcast(supp), per_supp.l_suppkey == supp.s_suppkey
    ).select("s_name", "red_qty")


ORACLE["q20_part_suppliers"] = """
SELECT s_name, red_qty FROM (
  -- CAST the HUGEINT sum back to int64 to match Spark (see q18).
  SELECT l_suppkey, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS red_qty
  FROM lineitem
  WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'red%')
  GROUP BY 1 HAVING sum(CAST(l_quantity AS BIGINT)) > 50
) JOIN supplier ON l_suppkey = s_suppkey
"""


def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market share (q8 shape): fraction of ASIA customer revenue
    supplied by NATION_3, per order year — conditional share with
    exact integer numerators/denominators."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    n_c = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("cnk"), F.col("n_regionkey").alias("crk")
    )
    region = load_table(spark, sf_dir, "region")
    n_s = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("snk"), F.col("n_name").alias("supp_nation")
    )
    cents4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("bigint")
    joined = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n_c), F.col("c_nationkey") == F.col("cnk"))
        .join(F.broadcast(region), F.col("crk") == region.r_regionkey)
        .join(F.broadcast(n_s), F.col("s_nationkey") == F.col("snk"))
        .where(F.col("r_name") == "ASIA")
    )
    target = F.when(F.col("supp_nation") == "NATION_3", cents4).otherwise(
        F.lit(0).cast("bigint")
    )
    return (
        joined.groupBy(F.year("o_orderdate").cast("int").alias("year"))
        .agg(
            F.sum(target).alias("_target"),
            F.sum(cents4).alias("_total"),
        )
        .select(
            "year",
            (F.round(F.col("_target") * 10000.0 / F.col("_total")) / 100.0).alias(
                "market_share_pct"
            ),
            (F.col("_total") / 10000.0).alias("total_revenue"),
        )
    )


ORACLE["q8_market_share"] = """
WITH j AS (
  SELECT CAST(year(o_orderdate) AS INTEGER) AS year,
         CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT) AS cents,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
)
SELECT year,
       round(sum(CASE WHEN supp_nation = 'NATION_3' THEN cents ELSE 0 END) * 10000.0
             / sum(cents)) / 100.0 AS market_share_pct,
       sum(cents) / 10000.0 AS total_revenue
FROM j GROUP BY 1
"""


def q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parts whose revenue exceeds 0.08% of global revenue (q11 shape:
    group HAVING against a scalar-subquery fraction; exact integer
    comparison — no float threshold ambiguity; 0.08% ≈ 1.6x the mean
    share on this catalog, so a handful of parts qualify)."""
    li = load_table(spark, sf_dir, "lineitem")
    cents4 = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000).cast("bigint")
    per_part = li.groupBy("l_partkey").agg(F.sum(cents4).alias("_part_cents"))
    total = per_part.agg(F.sum("_part_cents").alias("_total"))
    return (
        per_part.crossJoin(F.broadcast(total))
        # double-division compare on identical exact integers (cross-
        # multiplication would overflow int64 at 100 TB cent-sums);
        # both engines derive the same doubles → same comparison
        .where(F.col("_part_cents") * 1.0 / F.col("_total") > 0.0008)
        .select(
            F.col("l_partkey").cast("bigint").alias("part_id"),
            (F.col("_part_cents") / 10000.0).alias("part_revenue"),
        )
    )


ORACLE["q11_important_parts"] = """
WITH per_part AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT)) AS c
  FROM lineitem GROUP BY 1
)
SELECT l_partkey AS part_id, c / 10000.0 AS part_revenue
FROM per_part
WHERE c * 1.0 / (SELECT sum(c) FROM per_part) > 0.0008
"""


def q12_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q12 shape (shipmode/priority matrix), adapted to this schema:
    for lines shipped >= 30 days after order date (the lateness
    predicate standing in for commit/receipt dates, which the testdata
    lacks), count high- vs low-priority lines per line status.  The
    shape under test: big-big equi-join + conditional aggregation with
    the CASE folded into the scan-side projection."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_linestatus", "l_shipdate")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate", "o_orderpriority")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(
            F.col("l_shipdate")
            >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        .groupBy(F.col("l_linestatus").alias("line_status"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


ORACLE["q12_late_shipment_priority"] = """
SELECT l_linestatus AS line_status,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= o_orderdate + INTERVAL 30 DAY
GROUP BY 1
"""


def q2_min_cost_supplier(
    part: DataFrame,
    supplier: DataFrame,
    partsupp: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    size: int = 15,
    type_suffix: str = "BRASS",
) -> DataFrame:
    """TPC-H q2 shape (min-cost supplier per part in a region): the
    correlated MIN subquery re-expressed as a groupBy + equi-join-back
    — the only TPC-H query shape the driver testdata can't exercise
    (no partsupp table ships), so it is covered by
    tests/test_q2_shape.py on a synthesized partsupp with a DuckDB
    twin instead of a queries() entry.

    ``partsupp`` must carry ``ps_partkey, ps_suppkey,
    ps_supplycost_cents`` (bigint cents — integer equality for the
    min join-back; never equality on doubles).

    Scale shape: region/nation and the size+type-filtered part slice
    broadcast; partsupp (the big table) shuffles once on ps_partkey
    for the min-aggregation, and the join-back reuses that
    partitioning.  No correlated per-row subquery anywhere.
    """
    geo = (
        supplier.join(
            F.broadcast(
                nation.select("n_nationkey", "n_name", "n_regionkey")
            ),
            supplier.s_nationkey == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.where(F.col("r_name") == region_name)),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    cand_parts = part.where(
        (F.col("p_size") == size) & F.col("p_type").endswith(type_suffix)
    ).select("p_partkey", "p_brand")
    cand = partsupp.join(
        F.broadcast(geo), partsupp.ps_suppkey == F.col("s_suppkey")
    ).join(F.broadcast(cand_parts), partsupp.ps_partkey == F.col("p_partkey"))
    minc = cand.groupBy(F.col("ps_partkey").alias("_minc_pk")).agg(
        F.min("ps_supplycost_cents").alias("_minc")
    )
    return (
        cand.join(
            minc,
            (F.col("ps_partkey") == F.col("_minc_pk"))
            & (F.col("ps_supplycost_cents") == F.col("_minc")),
        )
        .select(
            (F.round(F.col("s_acctbal") * 100) / 100.0).alias("s_acctbal"),
            "s_name",
            "n_name",
            F.col("p_partkey").cast("bigint").alias("part_id"),
            "p_brand",
            (F.col("ps_supplycost_cents") / 100.0).alias("supply_cost"),
        )
    )


def lapsed_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-operator coverage: customers who ordered in 1999 but never
    again after — EXCEPT (distinct) semantics via DataFrame.subtract.
    Catalyst plans the subtract as an aggregate + left-anti hash join
    on the single key column, so at scale this is one shuffle per side
    keyed by custkey (no sort, no global ordering anywhere)."""
    orders = load_table(spark, sf_dir, "orders")
    # range predicates, not year(col): a function of the column cannot
    # reach PushedFilters, a range on the raw column does — parquet
    # row-group stats then skip 6 of 7 years at scan time
    in_1999 = (
        orders.where(
            (F.col("o_orderdate") >= F.lit("1999-01-01"))
            & (F.col("o_orderdate") < F.lit("2000-01-01"))
        )
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    after = orders.where(F.col("o_orderdate") >= F.lit("2000-01-01")).select(
        F.col("o_custkey").alias("custkey")
    )
    return in_1999.subtract(after)


ORACLE["lapsed_buyers"] = """
SELECT DISTINCT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1999
EXCEPT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) >= 2000
"""


def repeat_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) twin of lapsed_buyers: customers active in
    BOTH 1999 and 2000 — DataFrame.intersect, planned as two distinct
    aggregates + a hash semi join on custkey (one shuffle per side,
    no ordering)."""
    orders = load_table(spark, sf_dir, "orders")
    # range predicates for pushdown (see lapsed_buyers)
    y1999 = orders.where(
        (F.col("o_orderdate") >= F.lit("1999-01-01"))
        & (F.col("o_orderdate") < F.lit("2000-01-01"))
    ).select(F.col("o_custkey").alias("custkey"))
    y2000 = orders.where(
        (F.col("o_orderdate") >= F.lit("2000-01-01"))
        & (F.col("o_orderdate") < F.lit("2001-01-01"))
    ).select(F.col("o_custkey").alias("custkey"))
    return y1999.intersect(y2000)


ORACLE["repeat_buyers"] = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1999
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 2000
"""


def trending_topk(spark: SparkSession, sf_dir: str, topk: int = 3) -> DataFrame:
    """Trending event types: tumbling 1-hour windows → per-window
    top-k types by count (rank_per_window).  At 100 TB the rank runs
    over |event_types| rows per hour bucket.  Streaming twin:
    streaming/jobs.maintain_trending_counts maintains the same
    per_window counts continuously and read_trending_topk ends in the
    same rank_per_window (tests assert equality)."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    counts = per_window(
        ev, "1 hour", ["event_type"], F.count("*").cast("bigint").alias("n_events")
    )
    return rank_per_window(counts, topk)


ORACLE["trending_topk"] = """
WITH counts AS (
  SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start, event_type,
         count(*) AS n_events
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type) AS rnk
  FROM counts
)
SELECT window_start, event_type, CAST(n_events AS BIGINT) AS n_events,
       CAST(rnk AS INTEGER) AS rnk
FROM ranked WHERE rnk <= 3
"""
