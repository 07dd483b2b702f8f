"""Gap-based sessionization over an event stream.

Batch twin of the streaming sessionizer: a new session starts when the
gap to the user's previous event exceeds ``gap_minutes``.  Pure window
functions — partitioned by user, so it scales horizontally (the only
skew risk is a single hyperactive user; AQE skew-join handling plus a
per-user daily sub-partition would bound that at 100 TB).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bank_transaction_data_warehouse_spark.functions.warehouse import event_measures


def sessionize(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    gap_minutes: int = 30,
) -> DataFrame:
    w = Window.partitionBy(user_col).orderBy(ts_col)
    gap_s = gap_minutes * 60
    prev = F.lag(ts_col).over(w)
    # parquet naive timestamps arrive as TIMESTAMP_NTZ; route the
    # epoch-seconds math through an explicit timestamp cast
    secs = F.col(ts_col).cast("timestamp").cast("double")
    prev_secs = prev.cast("timestamp").cast("double")
    new_sess = (prev.isNull() | (secs - prev_secs > gap_s)).cast("int")
    return (
        events.withColumn("is_new_session", new_sess)
        .withColumn(
            "session_seq",
            F.sum("is_new_session").over(
                Window.partitionBy(user_col)
                .orderBy(ts_col)
                .rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .drop("is_new_session")
    )


def session_stats(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-session aggregates: bounds, event count, total value.
    Events without a timestamp are dropped, as the streaming twin's
    session_window drops them: they cannot be ordered into a session
    (and the lag window would sort them first, as a session of their
    own with a NULL start)."""
    s = sessionize(events.where(F.col("ts").isNotNull()), gap_minutes=gap_minutes)
    return s.groupBy("user_id", "session_seq").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        *event_measures(),
    )
