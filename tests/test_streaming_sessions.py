"""Gap sessionization (streaming/sessions.py::session_agg) on known
values. Cross-engine boundary semantics are pinned by the
events_session_window oracle."""

from datetime import datetime, timedelta

from deepex_spark.streaming.sessions import session_agg

SCHEMA = "event_id long, ts timestamp_ntz, user_id long, value double"
T0 = datetime(2024, 1, 1, 0, 0, 0)


def test_session_agg_known_values(spark):
    rows = [
        (1, T0, 1, 1.0),
        (2, T0 + timedelta(minutes=10), 1, 2.0),
        (3, T0 + timedelta(hours=5), 1, 4.0),
        (4, T0 + timedelta(minutes=3), 2, 8.0),
    ]
    got = {
        (r["user_id"], r["w_start"], r["w_end"], r["n_events"], r["total_value"])
        for r in session_agg(spark.createDataFrame(rows, SCHEMA), gap="30 minutes").collect()
    }
    # events 1 and 2 are 10 minutes apart: one session, ending 30
    # minutes after its last event; event 3 opens a second one
    assert got == {
        (1, T0, T0 + timedelta(minutes=40), 2, 3.0),
        (1, T0 + timedelta(hours=5), T0 + timedelta(hours=5, minutes=30), 1, 4.0),
        (2, T0 + timedelta(minutes=3), T0 + timedelta(minutes=33), 1, 8.0),
    }
