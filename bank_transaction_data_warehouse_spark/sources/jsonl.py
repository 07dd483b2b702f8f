"""JSON-lines ingest with corrupt-record quarantine.

Crawl drops, API exports, and event firehoses land as JSONL with a
tail of malformed rows (truncated writes, encoding junk, schema
drift).  A 100 TB load must neither crash on them (FAILFAST dies on
row one of a bad file) nor silently drop them (DROPMALFORMED loses
data with no audit trail).  This reader uses PERMISSIVE mode with an
explicit ``_corrupt_record`` column and splits the result into a
(clean, quarantine) pair — the same validate-then-quarantine
philosophy as the warehouse's clean_transactions/
quarantine_transactions split (reference etl.py's cleaning step).

Spark caveat encoded here: a PERMISSIVE ``_corrupt_record`` column
cannot be filtered in the same plan that reads it lazily unless the
frame is checkpointed or the filter references it through a
materialization boundary — since Spark 3 the JSON reader REFUSES
``df.filter(col("_corrupt_record").isNotNull())`` on the raw frame
(AnalysisException: referencing internal corrupt-record column).  The
documented fix (Spark's own JSON data-source docs) is to cache or
write out the parsed frame first; we cache, which also means the
expensive JSON parse runs ONCE for both halves of the split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

CORRUPT_COL = "_corrupt_record"


def read_quarantine(
    spark: SparkSession, path: str, schema: StructType, fmt: str, **options: str
) -> tuple[DataFrame, DataFrame]:
    """The one quarantine split, for any PERMISSIVE text format
    (``fmt`` "json" or "csv", format ``options`` passed through).
    Returns (clean, quarantine): clean rows parsed to ``schema``,
    quarantine rows as (raw_record string) for audit/replay.  The
    parse runs once (cached) for both halves."""
    full_schema = StructType(
        list(schema.fields) + [StructField(CORRUPT_COL, StringType())]
    )
    raw = (
        spark.read.schema(full_schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", CORRUPT_COL)
        .options(**options)
        .format(fmt)
        .load(path)
        .cache()
    )
    clean = raw.where(F.col(CORRUPT_COL).isNull()).drop(CORRUPT_COL)
    quarantine = raw.where(F.col(CORRUPT_COL).isNotNull()).select(
        F.col(CORRUPT_COL).alias("raw_record")
    )
    return clean, quarantine


def read_jsonl_quarantine(
    spark: SparkSession, path: str, schema: StructType
) -> tuple[DataFrame, DataFrame]:
    """JSON-lines (clean, quarantine) split; see read_quarantine."""
    return read_quarantine(spark, path, schema, "json")
