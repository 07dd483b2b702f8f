"""Vectorized Pandas UDFs — the sanctioned escape hatch when built-in
expressions genuinely can't express a computation (Arrow batch
transfer, 10-100x faster than row-at-a-time Python UDFs).

These are deliberately DUPLICATES of JVM-side expressions so the
tests can assert the two paths agree — the pattern to copy when a
real Python-only dependency (tokenizer, model) is needed: prototype in
pandas_udf, port to built-ins if the hot path demands it.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType


@F.pandas_udf(IntegerType())
def token_count_pd(text: pd.Series) -> pd.Series:
    """Whitespace token count, vectorized over Arrow batches — the
    pandas twin of functions.text.token_count_ws."""
    return text.fillna("").str.split().str.len().astype("int32")

