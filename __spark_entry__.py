"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the full star-schema fact
build + monthly spend trend) on sf0.001.  ``queries()`` exposes every
implemented operator from SURVEY.md §2; ``oracle_sql()`` gives the
DuckDB twin for each SQL-expressible one.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
from collections.abc import Callable

# the engine package lives next to this file; make the import robust
# to whatever cwd the driver harness runs from
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession

from bank_transaction_data_warehouse_spark.plans import analytics as A
from bank_transaction_data_warehouse_spark.plans import corpus as C
from bank_transaction_data_warehouse_spark.plans import olap as O
from bank_transaction_data_warehouse_spark.plans import warehouse as WH


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full warehouse build → monthly spend trend."""
    return A.spend_trend_monthly(spark, "/root/testdata/sf0.001")


@functools.cache
def correctness_rounds() -> tuple[dict[str, int], int | None]:
    """The per-round correctness artifacts (``CORRECTNESS_r<N>.json``
    beside this file), read once: the newest round each queries() key
    has a row in, and the newest round overall (None when there are no
    artifacts)."""
    here = os.path.dirname(os.path.abspath(__file__))
    latest: dict[str, int] = {}
    rounds = []
    for p in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.search(r"_r(\d+)\.json$", p)
        if not m:
            continue
        rnd = int(m.group(1))
        rounds.append(rnd)
        try:
            with open(p) as f:
                data = json.load(f)
        except (OSError, json.JSONDecodeError):
            continue
        for k in data:
            latest[k] = max(latest.get(k, -1), rnd)
    return latest, max(rounds, default=None)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    q: dict[str, Callable[[SparkSession, str], DataFrame]] = {
        "q18_large_volume_customers": O.q18_large_volume_customers,
        "q20_part_suppliers": O.q20_part_suppliers,
        "sql_revenue_by_region": O.sql_revenue_by_region,
        "lapsed_buyers": O.lapsed_buyers,
        "repeat_buyers": O.repeat_buyers,
        "q21_waiting_orders": O.q21_waiting_orders,
        "q8_market_share": O.q8_market_share,
        "q11_important_parts": O.q11_important_parts,
        "q12_late_shipment_priority": O.q12_late_shipment_priority,
    }
    q.update(C.QUERIES)
    q.update(
        {
            "cdc_apply": WH.cdc_apply,
            "trending_topk": O.trending_topk,
            "clean_accounts": WH.clean_accounts,
            "clean_transactions": WH.clean_transactions,
            "active_customers": WH.active_customers,
            "dim_customer": WH.dim_customer,
            "dim_account": WH.dim_account,
            "dim_location": WH.dim_location,
            "dim_merchant": WH.dim_merchant,
            "dim_date": WH.dim_date,
            "fact_spending": WH.fact_spending,
            "spend_trend_monthly": A.spend_trend_monthly,
            "customer_rfm": A.customer_rfm,
            "spending_habits": A.spending_habits,
            "q1_pricing_summary": O.q1_pricing_summary,
            "q3_shipping_priority": O.q3_shipping_priority,
            "q5_local_volume": O.q5_local_volume,
            "top_orders_per_customer": O.top_orders_per_customer,
            "events_sessionize": O.events_sessionize,
            "q9_nation_year_revenue": O.q9_nation_year_revenue,
            "q13_order_count_distribution": O.q13_order_count_distribution,
            "q16_supplier_part_counts": O.q16_supplier_part_counts,
            "dim_date_daily": WH.dim_date_daily,
            "spend_by_day_name": WH.spend_by_day_name,
            "quarantine_transactions": WH.quarantine_transactions,
            "spend_outliers": WH.spend_outliers,
            "top_categories": A.top_categories,
            "spend_by_tier": A.spend_by_tier,
            "spend_by_region_scope": A.spend_by_region_scope,
            "weekend_spend": A.weekend_spend,
            "hourly_profile": A.hourly_profile,
            "rolling_spend_7d": A.rolling_spend_7d,
            "spend_cube": A.spend_cube,
            "cohort_retention": A.cohort_retention,
            "mom_growth": A.mom_growth,
            "events_windowed": O.events_windowed,
            "events_props_parse": O.events_props_parse,
            "order_value_percentiles": O.order_value_percentiles,
            "spend_rollup": O.spend_rollup,
            "inactive_customers": O.inactive_customers,
            "segment_status_pivot": O.segment_status_pivot,
            "events_asof_order": O.events_asof_order,
            "q4_order_priority": O.q4_order_priority,
            "q6_revenue_forecast": O.q6_revenue_forecast,
            "q10_returned_items": O.q10_returned_items,
            "q14_promo_share": O.q14_promo_share,
            "q7_volume_shipping": O.q7_volume_shipping,
            "q15_top_supplier": O.q15_top_supplier,
            "q17_small_quantity_revenue": O.q17_small_quantity_revenue,
            "q22_global_sales_opportunity": O.q22_global_sales_opportunity,
            "q19_disjunctive_revenue": O.q19_disjunctive_revenue,
        }
    )
    # Key ORDER is the correctness window: each round's correctness
    # run covers only the first ~50 keys, so the stalest keys (no row,
    # then the oldest newest-row round) lead, ties in registry order
    # (scripts/crosscheck.check_freshness gates this).
    latest = correctness_rounds()[0]
    return dict(sorted(q.items(), key=lambda kv: latest.get(kv[0], -1)))


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o.update(WH.ORACLE)
    o.update(A.ORACLE)
    o.update(O.ORACLE)
    o.update(C.ORACLE)
    return o
