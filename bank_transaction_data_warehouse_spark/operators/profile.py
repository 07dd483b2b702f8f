"""One-pass table profiler: per-column stats for data-quality
monitoring (the reference's cleaning step is driven by exactly these
checks — null rates, out-of-range values; etl.py:100-136).

Single aggregation pass over the table: every statistic is computed in
one job, so profiling a 100 TB table costs one scan.  Distinct counts
use HLL approx_count_distinct (exact distinct would shuffle the
world); null/min/max/mean are exact.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

NUMERIC = {"int", "bigint", "double", "float", "smallint", "tinyint", "decimal"}


def profile_table(df: DataFrame, approx_rsd: float = 0.02) -> DataFrame:
    """Returns one row per column: n, n_null, approx_distinct, and for
    numeric columns min/max/mean."""
    rows = [
        F.struct(
            F.lit(c).alias("column"),
            F.lit(t).alias("dtype"),
            F.count(F.lit(1)).alias("n"),
            # zero-row tables: sum() returns NULL
            F.coalesce(F.sum(F.col(c).isNull().cast("long")), F.lit(0)).alias("n_null"),
            F.approx_count_distinct(c, approx_rsd).alias("approx_distinct"),
            *(
                (fn(c) if t.split("(")[0] in NUMERIC else F.lit(None)).cast("double").alias(s)
                for s, fn in (("min", F.min), ("max", F.max), ("mean", F.avg))
            ),
        )
        for c, t in df.dtypes
    ]
    # the SINGLE stats row unpivots inside Spark (inline over one struct
    # per column): no driver round trip, no Python-side rows
    return df.agg(F.array(*rows).alias("_cols")).select(F.inline("_cols"))
