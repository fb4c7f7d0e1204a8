"""Time-range attribution join over event tables.

``attribute_conversions`` matches each conversion event to the
impressions by the same user in the trailing attribution window: an
equi-join on the user key with the time range as the join's residual
predicate. The ``events_attribution`` registry entry runs it on the
events table against a DuckDB range self-join oracle, and
tests/test_streaming_joins.py pins the window boundaries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def attribute_conversions(
    impressions: DataFrame,
    conversions: DataFrame,
    window: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Match each conversion to every impression by the same user whose
    timestamp lies in ``(conv_ts - window, conv_ts]`` — strictly-after
    lower bound so an impression exactly ``window`` old has expired,
    inclusive upper so a same-instant impression still counts.

    Inputs are the two event tables projected to
    ``(event_id, ts, user_id)``; output is one row per (impression,
    conversion) match: ``(user_id, imp_event_id, conv_event_id, imp_ts,
    conv_ts)``. Timestamp arithmetic is subtraction against a day-time
    interval — microsecond-exact and tz-free on TIMESTAMP_NTZ (never
    interprets a wall time in the session zone).

    Plan: an equi-join on user_id with the range as a post-join filter —
    one exchange per side on the natural key.
    """
    imp = impressions.select(
        F.col("event_id").alias("imp_event_id"),
        F.col(ts_col).alias("imp_ts"),
        F.col(user_col).alias("user_id"),
    )
    conv = conversions.select(
        F.col("event_id").alias("conv_event_id"),
        F.col(ts_col).alias("conv_ts"),
        F.col(user_col).alias("conv_user_id"),
    )
    win = F.expr(f"INTERVAL {window}")
    joined = imp.join(
        conv,
        (F.col("user_id") == F.col("conv_user_id"))
        & (F.col("imp_ts") <= F.col("conv_ts"))
        & (F.col("imp_ts") > F.col("conv_ts") - win),
    )
    return joined.select("user_id", "imp_event_id", "conv_event_id", "imp_ts", "conv_ts")
