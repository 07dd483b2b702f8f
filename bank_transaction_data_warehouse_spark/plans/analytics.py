"""CRM analytics over the star schema — the reference's dashboard
queries (reference scripts/dashboard.py) plus the README-promised
feature engineering (spending habits, customer segmentation / RFM).

All of these aggregate ``warehouse.star`` — the fact star join with the
dim attributes kept — so at 100 TB each query is: one fact scan
(+codegen agg) and a final dim-cardinality-bounded shuffle.  Money
aggregates sum the star's integer ``amount_cents`` and divide by 100.0
at the end, so the result hash is stable across engines and partition
orders.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.functions import warehouse as W
from bank_transaction_data_warehouse_spark.plans import warehouse as WH
from bank_transaction_data_warehouse_spark.plans.warehouse import FACT_CTES

ORACLE: dict[str, str] = {}


def spend_trend_monthly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Monthly spend trend (dashboard.py sql_trend: Year, Month,
    YearMonth label, total)."""
    f = WH.star(spark, sf_dir)
    return (
        f.groupBy(
            F.year("l_shipdate").alias("year"), F.month("l_shipdate").alias("month")
        )
        .agg((F.sum("amount_cents") / 100.0).alias("total_spent"))
        .withColumn(
            "year_month",
            F.concat_ws("-", F.col("year"), F.lpad(F.col("month").cast("string"), 2, "0")),
        )
        .select("year", "month", "year_month", "total_spent")
    )


ORACLE["spend_trend_monthly"] = f"""
WITH {FACT_CTES.strip()}
SELECT CAST(year(_shipdate) AS INTEGER) AS year,
       CAST(month(_shipdate) AS INTEGER) AS month,
       CAST(year(_shipdate) AS VARCHAR) || '-' || lpad(CAST(month(_shipdate) AS VARCHAR), 2, '0') AS year_month,
       sum(amount_cents) / 100.0 AS total_spent
FROM fact_spending
GROUP BY 1, 2, 3
"""


def top_categories(spark: SparkSession, sf_dir: str, n: int = 5) -> DataFrame:
    """Top-N spend categories (dashboard.py sql_category, TOP 5)."""
    f = WH.star(spark, sf_dir)
    return (
        f.groupBy("category")
        .agg((F.sum("amount_cents") / 100.0).alias("total_spent"))
        .orderBy(F.col("total_spent").desc(), "category")
        .limit(n)
    )


ORACLE["top_categories"] = f"""
WITH {FACT_CTES.strip()}
SELECT _category AS category, sum(amount_cents) / 100.0 AS total_spent
FROM fact_spending
GROUP BY 1 ORDER BY total_spent DESC, category LIMIT 5
"""


def spend_by_tier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spend by customer tier (dashboard.py sql_age: by Age_Group)."""
    f = WH.star(spark, sf_dir)
    return f.groupBy("balance_tier").agg(
        (F.sum("amount_cents") / 100.0).alias("total_spent"),
        F.count("*").cast("bigint").alias("n_txn"),
    )


ORACLE["spend_by_tier"] = f"""
WITH {FACT_CTES.strip()}
SELECT _tier AS balance_tier, sum(amount_cents) / 100.0 AS total_spent,
       count(*) AS n_txn
FROM fact_spending GROUP BY 1
"""


def spend_by_region_scope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Domestic vs foreign spend split (Dim_Location scope use)."""
    f = WH.star(spark, sf_dir)
    return f.groupBy("region_scope").agg(
        (F.sum("amount_cents") / 100.0).alias("total_spent"),
        F.count("*").cast("bigint").alias("n_txn"),
    )


ORACLE["spend_by_region_scope"] = f"""
WITH {FACT_CTES.strip()}
SELECT _scope AS region_scope, sum(amount_cents) / 100.0 AS total_spent,
       count(*) AS n_txn
FROM fact_spending GROUP BY 1
"""


def customer_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM features per customer (README: customer segmentation) —
    recency (days from last txn to corpus max date), frequency,
    monetary.  One fact-scan groupBy on the surrogate key."""
    f = WH.star(spark, sf_dir)
    per_cust = f.groupBy("customer_key").agg(
        F.max("l_shipdate").alias("_last"),
        F.count("*").cast("bigint").alias("frequency"),
        (F.sum("amount_cents") / 100.0).alias("monetary"),
    )
    # corpus max date as a ONE-ROW aggregate broadcast-joined back in
    # (q22's scalar pattern) — NOT a Window.partitionBy() global
    # window, which funnels the entire per-customer frame (dim
    # cardinality ~1.5e10 rows at the 100 TB capacity model) through a
    # single Exchange SinglePartition task.  The one-row agg stays a
    # partial/final 2-stage agg; the crossJoin is a broadcast of 1 row.
    # per_cust feeds both the scalar agg and the final join — persist
    # the (dim-cardinality) aggregate so the fact scan runs once
    per_cust = per_cust.persist()
    corpus_max = per_cust.agg(F.max("_last").alias("_corpus_max"))
    return per_cust.crossJoin(F.broadcast(corpus_max)).select(
        "customer_key",
        F.datediff(F.col("_corpus_max"), F.col("_last"))
        .cast("int")
        .alias("recency_days"),
        "frequency",
        "monetary",
    )


ORACLE["customer_rfm"] = f"""
WITH {FACT_CTES.strip()}
SELECT customer_key,
       CAST(date_diff('day', max(_shipdate), (SELECT max(_shipdate) FROM fact_spending)) AS INTEGER) AS recency_days,
       count(*) AS frequency,
       sum(amount_cents) / 100.0 AS monetary
FROM fact_spending GROUP BY 1
"""


def spending_habits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer per-category spend and share of wallet (README:
    spending-habit feature engineering).  Window over the customer's
    total — partitioned by customer key, no global shuffle."""
    f = WH.star(spark, sf_dir)
    per_cat = f.groupBy("customer_key", "category").agg(
        F.sum("amount_cents").alias("_cat_cents")
    )
    w = Window.partitionBy("customer_key")
    total = F.sum("_cat_cents").over(w)
    # NULL share when the customer's total is 0 cents (all-zero-amount
    # transactions): under ANSI mode the bare division is a runtime
    # divideByZeroError — third instance of ENGINEERING_NOTES finding 8,
    # caught by the adversarial warehouse gate
    return per_cat.select(
        "customer_key",
        "category",
        (F.col("_cat_cents") / 100.0).alias("cat_spent"),
        F.when(
            total != 0,
            F.round(F.col("_cat_cents") * 10000.0 / total) / 100.0,
        ).alias("share_pct"),
    )


ORACLE["spending_habits"] = f"""
WITH {FACT_CTES.strip()},
per_cat AS (
  SELECT customer_key, _category AS category,
         sum(amount_cents) AS _cat_cents
  FROM fact_spending GROUP BY 1, 2
)
SELECT customer_key, category, _cat_cents / 100.0 AS cat_spent,
       CASE WHEN sum(_cat_cents) OVER (PARTITION BY customer_key) != 0
            THEN round(_cat_cents * 10000.0
                       / sum(_cat_cents) OVER (PARTITION BY customer_key)) / 100.0
       END AS share_pct
FROM per_cat
"""


def weekend_spend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekend vs weekday spend (Dim_Date Is_Weekend semantics applied
    at the fact's day grain)."""
    f = WH.star(spark, sf_dir)
    dow = W.vn_day_of_week(F.col("l_shipdate"))
    return (
        f.withColumn("is_weekend", W.is_weekend(dow))
        .groupBy("is_weekend")
        .agg(
            (F.sum("amount_cents") / 100.0).alias("total_spent"),
            F.count("*").cast("bigint").alias("n_txn"),
        )
    )


ORACLE["weekend_spend"] = f"""
WITH {FACT_CTES.strip()}
SELECT (isodow(_shipdate) + 1) IN (7, 8) AS is_weekend,
       sum(amount_cents) / 100.0 AS total_spent, count(*) AS n_txn
FROM fact_spending GROUP BY 1
"""


def hourly_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity profile by hour-of-day over the event stream
    (Dim_Date Hour_Of_Day analytics; events carry the clock)."""
    ev = WH.load_table(spark, sf_dir, "events")
    return ev.groupBy(F.hour("ts").cast("int").alias("hour_of_day")).agg(
        *W.event_measures()
    )


ORACLE["hourly_profile"] = f"""
SELECT CAST(hour(ts) AS INTEGER) AS hour_of_day, {W.EVENT_MEASURES_SQL}
FROM events GROUP BY 1
"""


def rolling_spend_7d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day trailing spend per day.  Each day's total is EXPLODED to
    the 7 calendar days it contributes to, then re-aggregated by
    target day — a shuffle keyed by day instead of the obvious
    unpartitioned range-frame window (which plans an Exchange
    SinglePartition and serializes at scale).  The semi-join back to
    `daily` keeps only days that actually occur in the data, exactly
    matching the range window's output."""
    f = WH.star(spark, sf_dir)
    daily = f.groupBy(F.col("l_shipdate").cast("date").alias("day")).agg(
        F.sum("amount_cents").alias("_day_cents")
    ).persist()  # feeds both the explode and the final join
    contrib = daily.select(
        F.explode(
            F.sequence(F.col("day"), F.date_add(F.col("day"), 6))
        ).alias("t_day"),
        F.col("_day_cents").alias("_c"),
    )
    rolled = contrib.groupBy("t_day").agg(F.sum("_c").alias("_trail_cents"))
    return daily.join(rolled, daily.day == rolled.t_day).select(
        "day",
        (F.col("_day_cents") / 100.0).alias("day_spent"),
        (F.col("_trail_cents") / 100.0).alias("trailing_7d"),
    )


ORACLE["rolling_spend_7d"] = f"""
WITH {FACT_CTES.strip()},
daily AS (
  SELECT CAST(_shipdate AS DATE) AS day, sum(amount_cents) AS _day_cents
  FROM fact_spending GROUP BY 1
)
SELECT day, _day_cents / 100.0 AS day_spent,
       sum(_day_cents) OVER (ORDER BY day
                             RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
                             AND CURRENT ROW) / 100.0 AS trailing_7d
FROM daily
"""


def spend_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (tier, region scope): the full subtotal lattice in
    one pass (GROUPING SETS generalization of spend_rollup)."""
    f = WH.star(spark, sf_dir)
    return (
        f.cube("balance_tier", "region_scope")
        .agg(
            (F.sum("amount_cents") / 100.0).alias("total_spent"),
            F.count("*").cast("bigint").alias("n_txn"),
        )
    )


ORACLE["spend_cube"] = f"""
WITH {FACT_CTES.strip()}
SELECT _tier AS balance_tier, _scope AS region_scope,
       sum(amount_cents) / 100.0 AS total_spent, count(*) AS n_txn
FROM fact_spending
GROUP BY CUBE (1, 2)
"""


def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the flagship CRM analytic: customers
    grouped by first-purchase month (cohort), counted as active in
    each subsequent month-offset.  Two shuffles: first-purchase
    groupBy, then (cohort, offset) count-distinct."""
    f = WH.star(spark, sf_dir)
    ym = (F.year("l_shipdate") * 12 + F.month("l_shipdate") - 1).cast("int")
    activity = f.select(
        F.col("customer_key"), ym.alias("_ym")
    ).distinct().persist()
    # persisted: `activity` fans out to both the first-purchase
    # aggregate and the final join; without it BOTH branches re-run the
    # whole fact build (column pruning makes the branch exchanges
    # non-identical, so ReuseExchange never dedupes them — the same
    # two-consumer invariant as customer_rfm/mom_growth).  activity is
    # already distinct (customer, month), i.e. aggregate-small.
    firsts = activity.groupBy("customer_key").agg(F.min("_ym").alias("_cohort"))
    return (
        activity.join(firsts, "customer_key")
        .groupBy(
            (F.floor(F.col("_cohort") / 12)).cast("int").alias("cohort_year"),
            (F.pmod(F.col("_cohort"), F.lit(12)) + 1).cast("int").alias("cohort_month"),
            (F.col("_ym") - F.col("_cohort")).cast("int").alias("months_since"),
        )
        .agg(F.countDistinct("customer_key").cast("bigint").alias("active_customers"))
    )


ORACLE["cohort_retention"] = f"""
WITH {FACT_CTES.strip()},
activity AS (
  SELECT DISTINCT customer_key,
         CAST(year(_shipdate) * 12 + month(_shipdate) - 1 AS INTEGER) AS ym
  FROM fact_spending
),
firsts AS (SELECT customer_key, min(ym) AS cohort FROM activity GROUP BY 1)
SELECT CAST(floor(cohort / 12) AS INTEGER) AS cohort_year,
       CAST(cohort % 12 + 1 AS INTEGER) AS cohort_month,
       CAST(ym - cohort AS INTEGER) AS months_since,
       count(DISTINCT a.customer_key) AS active_customers
FROM activity a JOIN firsts USING (customer_key)
GROUP BY 1, 2, 3
"""


def mom_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month spend growth (lag window over the monthly
    trend; growth in basis points via scale-0 rounding so both
    engines agree bit-for-bit)."""
    monthly = spend_trend_monthly(spark, sf_dir).select(
        "year",
        "month",
        # round, don't truncate: total_spent*100 can sit one ulp below
        # the integer it represents
        F.round(F.col("total_spent") * 100).cast("bigint").alias("_cents"),
    ).withColumn("_mk", F.col("year") * 12 + F.col("month")).persist()
    # persisted: the calendar-bounded monthly frame feeds both sides of
    # the prior-month self-join; without it each side re-runs the fact
    # aggregation
    # lag = value of the latest EARLIER month row, computed as a
    # max_by over a broadcast theta self-join instead of a
    # Window.orderBy() global window (single-partition Exchange).
    # The monthly frame is calendar-bounded (≤ a few thousand rows for
    # any corpus age), so the ≤ m² join is constant-ish at any fact
    # scale while the aggregate stays fully parallel.
    prior = monthly.select(
        F.col("_mk").alias("_mk2"), F.col("_cents").alias("_cents2")
    )
    prev = F.max_by("_cents2", "_mk2")
    return (
        monthly.join(F.broadcast(prior), F.col("_mk2") < F.col("_mk"), "left")
        .groupBy("year", "month", "_cents")
        .agg(prev.alias("_prev"))
        .select(
            "year",
            "month",
            (F.col("_cents") / 100.0).alias("total_spent"),
            F.when(
                F.col("_prev").isNotNull() & (F.col("_prev") != 0),
                F.round(
                    (F.col("_cents") - F.col("_prev")) * 10000.0 / F.col("_prev")
                )
                / 100.0,
            ).alias("growth_pct"),
        )
    )


ORACLE["mom_growth"] = f"""
WITH {FACT_CTES.strip()},
monthly AS (
  SELECT CAST(year(_shipdate) AS INTEGER) AS year,
         CAST(month(_shipdate) AS INTEGER) AS month,
         sum(amount_cents) AS _cents
  FROM fact_spending GROUP BY 1, 2
)
SELECT year, month, _cents / 100.0 AS total_spent,
       CASE WHEN lag(_cents) OVER w IS NOT NULL AND lag(_cents) OVER w != 0
            THEN round((_cents - lag(_cents) OVER w) * 10000.0 / lag(_cents) OVER w) / 100.0
       END AS growth_pct
FROM monthly
WINDOW w AS (ORDER BY year, month)
"""
