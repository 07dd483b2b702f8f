"""Warehouse column expressions — the reference's row-wise Python
functions re-expressed as Catalyst Column trees (JVM-side, inside
whole-stage codegen; zero Python in the hot path).

Each builder returns a Column and has a ``*_SQL`` twin (an ANSI-SQL
string template) used to generate the DuckDB oracle, so Spark and the
oracle share one definition.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# --- customer tier (reference get_age_group, etl.py:148-153) ----------
# The reference buckets a derived Age into named groups.  Our customer
# master has no birth date; the analogous derived-attribute bucketing is
# applied to the account balance.

def balance_tier(bal: Column) -> Column:
    return (
        F.when(bal < 0.0, "Overdrawn")
        .when(bal < 2500.0, "Low")
        .when(bal < 5000.0, "Mid")
        .when(bal < 7500.0, "High")
        .otherwise("Premium")
    )


BALANCE_TIER_SQL = (
    "CASE WHEN {c} < 0 THEN 'Overdrawn' "
    "WHEN {c} < 2500 THEN 'Low' "
    "WHEN {c} < 5000 THEN 'Mid' "
    "WHEN {c} < 7500 THEN 'High' "
    "ELSE 'Premium' END"
)


# --- location scope (reference get_region, etl.py:178-183) ------------
DOMESTIC_NATIONS = ("NATION_0", "NATION_1", "NATION_2")


def region_scope(nation_name: Column) -> Column:
    return F.when(nation_name.isin(*DOMESTIC_NATIONS), "Domestic").otherwise("Foreign")


REGION_SCOPE_SQL = (
    "CASE WHEN {c} IN ('NATION_0','NATION_1','NATION_2') "
    "THEN 'Domestic' ELSE 'Foreign' END"
)


# --- merchant fallback categorizer (reference get_category keyword
# rules on TransactionDescription, etl.py:197-221).  Applied when the
# MCC-style lookup (p_type → category) misses; classifies by keyword in
# the catalog name, first-match-wins like the reference.
FALLBACK_RULES = [
    ("ring", "Jewelry"),
    ("widget", "Gadgets"),
    ("gear", "Hardware"),
    ("bolt", "Hardware"),
    ("rod", "Hardware"),
    ("anvil", "Industrial"),
    ("plate", "Industrial"),
]
FALLBACK_DEFAULT = "Other"


def fallback_category(name: Column) -> Column:
    expr = None
    for kw, cat in FALLBACK_RULES:
        cond = name.contains(kw)
        expr = F.when(cond, cat) if expr is None else expr.when(cond, cat)
    return expr.otherwise(FALLBACK_DEFAULT)


FALLBACK_CATEGORY_SQL = (
    "CASE "
    + " ".join(
        f"WHEN {{c}} LIKE '%{kw}%' THEN '{cat}'" for kw, cat in FALLBACK_RULES
    )
    + f" ELSE '{FALLBACK_DEFAULT}' END"
)


# --- calendar attributes (reference Dim_Date, etl.py:243-266) ---------
# VN convention: Monday=2 .. Saturday=7, Sunday=8 (etl.py:243-248).

DAY_NAMES = {
    2: "Thu Hai",
    3: "Thu Ba",
    4: "Thu Tu",
    5: "Thu Nam",
    6: "Thu Sau",
    7: "Thu Bay",
    8: "Chu Nhat",
}


def vn_day_of_week(ts: Column) -> Column:
    # Spark dayofweek: Sun=1..Sat=7  →  Mon=2..Sun=8
    return ((F.dayofweek(ts) + F.lit(5)) % 7 + F.lit(2)).cast("int")


VN_DOW_SQL = "(isodow({c}) + 1)"  # DuckDB isodow: Mon=1..Sun=7


def day_name(dow: Column) -> Column:
    expr = None
    for k, v in DAY_NAMES.items():
        cond = dow == F.lit(k)
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr


DAY_NAME_SQL = (
    "CASE "
    + " ".join(f"WHEN {{c}} = {k} THEN '{v}'" for k, v in DAY_NAMES.items())
    + " END"
)


def is_weekend(dow: Column) -> Column:
    return dow.isin(7, 8)


IS_WEEKEND_SQL = "{c} IN (7, 8)"


def month_name(month: Column) -> Column:
    # reference: 'Tháng ' + month (etl.py:255); ASCII-normalized.
    return F.concat(F.lit("Thang "), month.cast("string"))


MONTH_NAME_SQL = "'Thang ' || CAST({c} AS VARCHAR)"


def hour_date_key(ts: Column) -> Column:
    """yyyyMMddHH int key (reference Date_Key rule, etl.py:259-266).
    Range contract inherited from the reference's INT key: valid
    through 2147-12-31 (2147123123 < 2^31-1); a later timestamp is
    junk data and fails loudly under ANSI cast-overflow rather than
    wrapping silently."""
    return F.date_format(ts, "yyyyMMddHH").cast("int")


HOUR_DATE_KEY_SQL = "CAST(strftime({c}, '%Y%m%d%H') AS INTEGER)"


def day_date_key(d: Column) -> Column:
    """yyyyMMdd int key for day-grain facts (lineitem has no clock)."""
    return F.date_format(d, "yyyyMMdd").cast("int")


DAY_DATE_KEY_SQL = "CAST(strftime({c}, '%Y%m%d') AS INTEGER)"


# --- event measures (the activity/spend pair every event aggregate
# reports: batch windows, sessions, the hour profile and their
# streaming twins).  Money sums exact integer cents, / 100.0 at the end.

def event_measures() -> tuple[Column, Column]:
    return (
        F.count("*").cast("bigint").alias("n_events"),
        (F.sum(F.round(F.col("value") * 100).cast("bigint")) / 100.0).alias(
            "total_value"
        ),
    )


EVENT_MEASURES_SQL = (
    "count(*) AS n_events, "
    "sum(CAST(round(value * 100) AS BIGINT)) / 100.0 AS total_value"
)
