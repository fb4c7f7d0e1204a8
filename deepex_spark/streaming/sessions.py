"""Gap sessionization via Spark's native session windows.

``session_agg`` groups events by (user, ``F.session_window``), Spark's
built-in merging event-time session window. It agrees exactly with the
lag + conditional-cumsum sessionization in
``operators/curate.py::sessionize``: ``session_window`` merges an event
into the open session when its gap to the session's last event is <= the
gap duration (probed: a gap of exactly ``gap`` merges, ``gap + 1us``
splits), the same inclusive boundary. The ``events_session_window``
oracle (queries.py) pins this cross-engine by re-deriving the window
bounds from the first-principles lag-cumsum in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def session_agg(
    events: DataFrame,
    gap: str = "30 minutes",
    user_col: str = "user_id",
    ts_col: str = "ts",
    value_col: str = "value",
) -> DataFrame:
    """Session aggregation: group by (user, merging session window),
    emit ``(user_id, w_start, w_end, n_events, total_value)``. ``w_end``
    is the window end = last event + gap (the session's expiry instant),
    not the last event itself."""
    return (
        events.groupBy(user_col, F.session_window(ts_col, gap))
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(value_col), 4).alias("total_value"),
        )
        .select(
            user_col,
            F.col("session_window.start").alias("w_start"),
            F.col("session_window.end").alias("w_end"),
            "n_events",
            "total_value",
        )
    )
