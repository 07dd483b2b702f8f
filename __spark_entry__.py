"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (the full star-schema fact
build + monthly spend trend) on sf0.001.  ``queries()`` exposes every
implemented operator from SURVEY.md §2; ``oracle_sql()`` gives the
DuckDB twin for each SQL-expressible one.
"""

from __future__ import annotations

import os
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


# Key ORDER is deliberate: the driver's correctness run covers the
# first ~50 keys only, and crosscheck.py's freshness gate requires any
# key whose newest driver row is older than one round to sit inside
# that window.  With 115 keys and a 50-key window, ~5-10 keys/round
# structurally overflow the two-round freshness horizon — the rotation
# is a treadmill, not a one-off.  r15 rotation: (a) the 18 keys whose
# latest row is r12 (the gate exits 1 at HEAD on exactly these — the
# 16 VERDICT_r14-mandated deferrals + dup_shingle_ratio +
# kmeans_clusters), then (b) 32 of the 47 r13-latest keys, changed
# plans first (this round re-sized the spread/pin exchange widths of
# the whole dedup/text/ANN family and rendered the kmeans/IVF literal
# trees as SQL text — those must be driver-re-verified).  Left
# outside (r13-latest, plans untouched this round, still within the
# one-round freshness horizon): dedup_impact, decontaminate,
# tfidf_top_terms, repetition_score, dim_date, profile_events,
# sql_revenue_by_region and the q7/q8/q11/q12/q14/q15/q17-q22 OLAP
# block.
_R15_WINDOW = [
    # (a) r12-stale — the freshness gate names exactly these 18
    "dim_customer",
    "dim_account",
    "dim_location",
    "dim_merchant",
    "dim_date_daily",
    "spend_by_day_name",
    "quarantine_transactions",
    "spend_outliers",
    "hashed_features",
    "centroid_classifier_eval",
    "ann_ivf_kmeans_topk",
    "frame_sample",
    "vocab_growth",
    "mixture_sample",
    "label_centroids",
    "chunk_documents",
    "dup_shingle_ratio",
    "kmeans_clusters",
    # (b) r13-latest, r15-changed plans first (width/pin re-sizing,
    # SQL-text kmeans/IVF trees, fused edit-distance payload)
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_ngram_jaccard_pruned",
    "dedup_simhash",
    "minhash_recall_report",
    "cross_source_overlap",
    "doc_quality",
    "pii_scrub",
    "lang_id_confusion",
    "embedding_dedup",
    "ann_cosine_topk",
    "ann_recall_report",
    "ann_ivf_topk",
    "ann_lsh_topk",
    "cluster_balanced_sample",
    "quality_mixture_sample",
    "q1_pricing_summary",
    # (b cont.) r13-latest, plans stable — breadth across families
    "stratified_sample",
    "multimodal_features",
    "ngram_counts",
    "pack_documents",
    "audio_segments",
    "top_orders_per_customer",
    "q3_shipping_priority",
    "q5_local_volume",
    "clean_accounts",
    "clean_transactions",
    "active_customers",
    "q18_large_volume_customers",
    "q20_part_suppliers",
    "q21_waiting_orders",
    "q8_market_share",
]


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
            # high-value core kept inside the window
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
            # ---- proven-stable r10-green rows (behind the window) ----
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
    ordered = {k: q[k] for k in _R15_WINDOW if k in q}
    ordered.update({k: v for k, v in q.items() if k not in ordered})
    return ordered


def oracle_sql() -> dict[str, str]:
    o: dict[str, str] = {}
    o.update(WH.ORACLE)
    o.update(A.ORACLE)
    o.update(O.ORACLE)
    o.update(C.ORACLE)
    return o
