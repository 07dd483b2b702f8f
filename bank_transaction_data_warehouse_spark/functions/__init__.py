from bank_transaction_data_warehouse_spark.functions.warehouse import (
    balance_tier,
    day_date_key,
    day_name,
    fallback_category,
    hour_date_key,
    is_weekend,
    month_name,
    region_scope,
    vn_day_of_week,
)
from bank_transaction_data_warehouse_spark.functions.text import (
    lang_id,
    punct_ratio,
    quality_score,
    stopword_ratio,
    token_count_bpeish,
    token_count_ws,
)
from bank_transaction_data_warehouse_spark.functions.vectors import (
    dot,
    l2_norm,
)

__all__ = [
    "balance_tier",
    "day_date_key",
    "day_name",
    "lang_id",
    "fallback_category",
    "hour_date_key",
    "is_weekend",
    "month_name",
    "region_scope",
    "vn_day_of_week",
    "punct_ratio",
    "quality_score",
    "stopword_ratio",
    "token_count_bpeish",
    "token_count_ws",
    "dot",
    "l2_norm",
]
